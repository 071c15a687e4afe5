"""Warm-session gates: a long-lived session pays a parquet path's schema
once per file version, a persisted model once per artifact version, keeps
the catalog's generated classes compiled, and sizes a replay's state
stores to its input.

Job counts come from the status tracker under a job group set on this
thread, so background work on other threads is never counted."""

from __future__ import annotations

import os
import uuid

from pyspark.ml import Pipeline
from pyspark.ml.feature import VectorAssembler

from market_data_mining_project_spark.ml import persistence as P
from market_data_mining_project_spark.ml.pipelines import TrainedModel
from market_data_mining_project_spark.plans import pipeline_io as PIO
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


def test_second_derived_table_call_starts_no_job(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", str(tmp_path / "root"))
    builds = []

    def build():
        builds.append(1)
        return spark.createDataFrame([(7,)], "v int")

    first = MAT.derived_table(spark, str(tmp_path), "warm", build)
    jobs = _jobs_started(spark, lambda: MAT.derived_table(spark, str(tmp_path), "warm", build))
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


def _assembler_model(spark, out: str) -> TrainedModel:
    """A one-stage PipelineModel that fits without a job; ``out`` tells
    two generations of an artifact apart."""
    df = spark.createDataFrame([(1.0,)], "x double")
    model = Pipeline(stages=[VectorAssembler(inputCols=["x"], outputCol=out)]).fit(df)
    return TrainedModel(model=model, metrics={"generation": out})


def test_second_load_of_an_unchanged_model_starts_no_job(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", str(tmp_path))
    P.load_or_train("warm_m", "v1", lambda: _assembler_model(spark, "a"))
    first, metrics, cached = P.load_or_train("warm_m", "v1", lambda: _assembler_model(spark, "b"))
    assert cached and metrics == {"generation": "a"}
    calls = []
    jobs = _jobs_started(spark, lambda: calls.append(P.load_or_train("warm_m", "v1", None)))
    assert jobs == []
    again, again_metrics, again_cached = calls[0]
    assert again is first and again_cached
    again_metrics["generation"] = "mutated"  # a caller's copy, not the memo's
    assert P.load_or_train("warm_m", "v1", None)[1] == {"generation": "a"}


def test_force_republish_is_loaded_again(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", str(tmp_path))
    P.load_or_train("warm_f", "v1", lambda: _assembler_model(spark, "a"))
    before, _, _ = P.load_or_train("warm_f", "v1", None)
    P.load_or_train("warm_f", "v1", lambda: _assembler_model(spark, "b"), force=True)
    after, metrics, cached = P.load_or_train("warm_f", "v1", None)
    assert cached and after is not before
    assert metrics == {"generation": "b"}
    assert after.stages[0].getOutputCol() == "b"


def test_new_data_version_replaces_its_memoized_predecessor(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", str(tmp_path))
    for version in ("v1", "v2"):
        P.load_or_train("warm_v", version, lambda: _assembler_model(spark, version))
        P.load_or_train("warm_v", version, None)
    memo = P._MODEL_MEMO[spark.sparkContext]
    entries = [hit for (_root, name), hit in memo.items() if name == "warm_v"]
    assert [os.path.basename(hit[0]) for hit in entries] == ["warm_v-v2"]


def test_state_partitions_follow_the_input_rows():
    batch = 10_000
    assert PIO._state_partitions(0, batch, 4) == 1
    assert PIO._state_partitions(batch, batch, 4) == 1
    assert PIO._state_partitions(batch + 1, batch, 4) == 2
    assert PIO._state_partitions(10**12, batch, 4) == 4


def _state_partition_dirs(prefix: str) -> list[str]:
    """The state-partition directories of the last replay under ``prefix``
    (one per partition, next to the operator's ``_metadata``)."""
    ck = [d for d in PIO._SCRATCH_DIRS if os.path.basename(d).startswith(f"ck_{prefix}_")][-1]
    return sorted(p for p in os.listdir(os.path.join(ck, "state", "0")) if p.isdigit())


def test_small_replay_runs_one_state_partition(spark, sf_dir):
    PIO.q_streaming_window_stats(spark, sf_dir).collect()
    assert _state_partition_dirs("win_stats") == ["0"]


def test_replay_takes_one_state_partition_per_arrow_batch_of_events(spark, sf_dir):
    rows = load_table(spark, sf_dir, "events").count()
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, str(-(-rows // 2)))  # two Arrow batches of events
    try:
        PIO.q_running_user_totals(spark, sf_dir).collect()  # state updated in Python
        PIO.q_streaming_window_stats(spark, sf_dir).collect()  # state updated in the JVM
    finally:
        spark.conf.set(conf, prev)
    expected = [str(i) for i in range(min(2, spark.sparkContext.defaultParallelism))]
    assert _state_partition_dirs("user_totals") == expected
    assert _state_partition_dirs("win_stats") == expected
