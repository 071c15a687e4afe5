"""Warm-session gates: a long-lived session pays a parquet path's schema
once per file version and keeps the catalog's generated classes compiled.

Job counts come from the status tracker under a job group set on this
thread, so background work on other threads is never counted."""

from __future__ import annotations

import uuid

from market_data_mining_project_spark.sources import materialize as MAT
from market_data_mining_project_spark.sources.tables import load_table


def _jobs_started(spark, fn) -> list[int]:
    """Ids of the Spark jobs ``fn`` started on this thread."""
    sc = spark.sparkContext
    group = f"warm-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "warm-session probe")
    try:
        fn()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    # job starts reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _compiles(spark) -> int:
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def test_second_load_of_an_unchanged_table_starts_no_job(spark, sf_dir):
    first = load_table(spark, sf_dir, "orders")
    assert _jobs_started(spark, lambda: load_table(spark, sf_dir, "orders")) == []
    assert load_table(spark, sf_dir, "orders").schema == first.schema


def test_table_rewritten_in_place_is_read_with_its_new_schema(spark, tmp_path):
    sf = str(tmp_path)
    MAT.overwrite_table(spark.createDataFrame([(1, "a")], "k int, v string"), f"{sf}/t.parquet")
    assert load_table(spark, sf, "t").columns == ["k", "v"]
    MAT.overwrite_table(
        spark.createDataFrame([(2, "b", 3.5)], "k int, v string, w double"), f"{sf}/t.parquet"
    )
    again = load_table(spark, sf, "t")
    assert again.columns == ["k", "v", "w"]
    assert [tuple(r) for r in again.collect()] == [(2, "b", 3.5)]


def test_second_derived_table_call_starts_no_job(spark, tmp_path):
    cache: dict = {}
    builds = []

    def build():
        builds.append(1)
        return spark.createDataFrame([(7,)], "v int")

    first = MAT.derived_table(spark, cache, str(tmp_path), "warm_", build)
    jobs = _jobs_started(spark, lambda: MAT.derived_table(spark, cache, str(tmp_path), "warm_", build))
    assert jobs == []
    assert builds == [1]
    assert [r.v for r in first.collect()] == [7]


def test_generated_classes_outlive_more_than_a_hundred_other_plans(spark):
    """Spark's default cache holds 100 generated classes; the session keeps
    a query's classes compiled across 150 distinct plans in between."""

    def query():
        return spark.range(100).selectExpr("id % 7 AS k", "id * 3 AS v").groupBy("k").sum("v").collect()

    expected = sorted(query())
    for i in range(150):
        # planning + codegen + compile on the driver; no job runs
        spark.range(1).selectExpr(f"id * {i} + {i + 1} AS x")._jdf.queryExecution().executedPlan().execute()
    before = _compiles(spark)
    assert sorted(query()) == expected
    assert _compiles(spark) == before
