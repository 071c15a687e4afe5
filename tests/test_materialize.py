"""Storage-layout tests: bucketed joins must plan without a shuffle, and
partitioned writes must prune at the scan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from market_data_mining_project_spark.sources import materialize as MAT
from market_data_mining_project_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def warehouse(spark, sf_dir, tmp_path_factory):
    # bucket lineitem + orders on the join key with the same bucket count
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey").withColumnRenamed(
        "o_orderkey", "l_orderkey"
    )
    MAT.write_bucketed_table(li, "b_lineitem", "l_orderkey", n_buckets=8, sort_col="l_orderkey")
    MAT.write_bucketed_table(orders, "b_orders", "l_orderkey", n_buckets=8, sort_col="l_orderkey")
    yield
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")


def test_bucketed_join_is_shuffle_free(spark, warehouse):
    joined = MAT.colocated_join(spark, "b_lineitem", "b_orders", "l_orderkey")
    agg = joined.groupBy("l_orderkey").agg(F.sum("l_extendedprice").alias("s"))
    # force a real execution so executedPlan is final
    joined.count() and agg.count()
    assert not MAT.plan_has_shuffle(joined), "bucketed equi-join must not shuffle"
    assert not MAT.plan_has_shuffle(agg), "groupBy on the bucket key must not shuffle"


def test_unbucketed_join_does_shuffle(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey")
        .withColumnRenamed("o_orderkey", "l_orderkey")
    )
    # defeat the broadcast path so the comparison is shuffle-vs-bucketing
    joined = li.hint("merge").join(orders.hint("merge"), "l_orderkey")
    joined.count()
    assert MAT.plan_has_shuffle(joined)


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_by_year")
    MAT.write_partitioned(orders, path, ["o_year"])
    back = spark.read.parquet(path).filter(F.col("o_year") == 1995)
    plan = back._jdf.queryExecution().executedPlan().toString()
    back.count()
    # partition filter must reach the scan (pruned directories, not a post-filter)
    assert "PartitionFilters: [isnotnull(o_year" in plan or "o_year#" in plan.split("PartitionFilters")[1][:120]
    expected = orders.filter(F.col("o_year") == 1995).count()
    assert back.count() == expected


def test_dynamic_partition_overwrite_touches_only_new_partitions(spark, sf_dir, tmp_path):
    """Incremental backfill: rewriting one year must leave other years' data
    byte-identical (dynamic partition overwrite, not table wipe)."""
    orders = load_table(spark, sf_dir, "orders").withColumn("o_year", F.year("o_orderdate"))
    path = str(tmp_path / "inc")
    MAT.write_partitioned(orders, path, ["o_year"])
    before_other = spark.read.parquet(path).filter(F.col("o_year") != 1996).count()
    # backfill: re-ingest 1996 with a value tweak
    patch = (
        orders.filter(F.col("o_year") == 1996)
        .withColumn("o_totalprice", F.col("o_totalprice") * 0 + 1.0)
    )
    MAT.overwrite_partitions(patch, path, ["o_year"])
    after = spark.read.parquet(path)
    assert after.filter(F.col("o_year") != 1996).count() == before_other
    assert after.filter((F.col("o_year") == 1996) & (F.col("o_totalprice") != 1.0)).count() == 0
    assert after.filter(F.col("o_year") == 1996).count() == patch.count()


def test_orc_roundtrip_with_pushdown(spark, sf_dir, tmp_path):
    """ORC is a first-class columnar sink: values round-trip exactly and
    predicates still push down to the ORC scan."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    path = str(tmp_path / "orders_orc")
    MAT.overwrite_table(orders, path, format="orc")
    back = spark.read.orc(path)
    assert back.count() == orders.count()
    assert sorted(back.columns) == sorted(orders.columns)
    filtered = back.filter(F.col("o_orderkey") > 5000)
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "GreaterThan(o_orderkey,5000)" in plan.replace(" ", "").replace("\n", "")
    spark_sum = orders.filter(F.col("o_orderkey") > 5000).agg(
        F.sum("o_orderkey")
    ).collect()[0][0]
    assert filtered.agg(F.sum("o_orderkey")).collect()[0][0] == spark_sum


def test_shared_derived_tables_are_keyed_by_sf_dir(spark, sf_dir):
    """The session-cached materialized frames (ui matrix, CF candidates,
    basket-brand pairs) must be keyed by sf_dir: a second scale factor in the
    same session must produce its own frame, not a stale read of the first
    one's parquet. A regression here silently corrupts every consumer's
    results, so pin it on the cheapest two inputs."""
    import os

    import pytest

    from market_data_mining_project_spark.plans import analytics_domain as AD

    # derive both scale factors from the same root the sf_dir fixture uses
    small, large = sf_dir, os.path.join(os.path.dirname(os.path.abspath(sf_dir)), "sf0.01")
    if os.path.realpath(small) == os.path.realpath(large) or not os.path.isdir(large):
        pytest.skip(f"no second scale factor next to {small}")
    for builder in (AD._ui_matrix, AD._basket_brands):
        n_small = builder(spark, small).count()
        n_large = builder(spark, large).count()
        assert n_small != n_large, (
            f"{builder.__name__}: identical row counts for {small} and {large} "
            "— the materializer cache is not keyed by sf_dir"
        )


def test_plan_has_shuffle_sees_all_shuffle_kinds(spark):
    """RoundRobin (repartition) and SinglePartition (global agg) exchanges
    are shuffles too — a must-not-shuffle assertion that misses them passes
    silently on a regressed plan. BroadcastExchange stays a non-shuffle."""
    df = spark.range(100).withColumn("k", F.col("id") % 5)
    assert MAT.plan_has_shuffle(df.repartition(8))
    assert MAT.plan_has_shuffle(df.agg(F.sum("id")))
    assert MAT.plan_has_shuffle(df.groupBy("k").count())
    assert not MAT.plan_has_shuffle(df.filter(F.col("id") > 5))
    dim = spark.range(5).withColumnRenamed("id", "k")
    assert not MAT.plan_has_shuffle(df.join(F.broadcast(dim), "k"))


def _one_table_src(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    (src / "t.parquet").write_bytes(b"x")
    return str(src)


def test_derived_table_misses_memo_on_version_change(spark, tmp_path, monkeypatch):
    """A hit is keyed on (name, data version): a caller whose source was
    rewritten must MISS and build the new version — a name-only key would
    serve the stale materialization."""
    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", str(tmp_path / "cache_root"))
    src = _one_table_src(tmp_path)
    builds = []

    def make_build(val):
        def build():
            builds.append(val)
            return spark.createDataFrame([(val,)], "v int")
        return build

    a = MAT.derived_table(spark, src, "vt", make_build(1), tables=("t",))
    assert [r.v for r in a.collect()] == [1] and builds == [1]
    # same version: hit, no rebuild
    b = MAT.derived_table(spark, src, "vt", make_build(99), tables=("t",))
    assert [r.v for r in b.collect()] == [1] and builds == [1]
    # new version (the source was rewritten): must rebuild
    (tmp_path / "src" / "t.parquet").write_bytes(b"rewritten")
    c = MAT.derived_table(spark, src, "vt", make_build(2), tables=("t",))
    assert [r.v for r in c.collect()] == [2] and builds == [1, 2]


def test_derived_table_follows_a_moved_cache_root(spark, tmp_path, monkeypatch):
    """The artifact path is computed from the CURRENT cache root on every
    call: after the root moves (and the old one is gone) the frame is
    built and published under the new root, not read from the old path."""
    import shutil

    src = _one_table_src(tmp_path)
    builds = []

    def build():
        builds.append(1)
        return spark.createDataFrame([(5,)], "v int")

    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", str(tmp_path / "a"))
    assert [r.v for r in MAT.derived_table(spark, src, "moved", build, tables=("t",)).collect()] == [5]
    shutil.rmtree(tmp_path / "a")
    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", str(tmp_path / "b"))
    assert [r.v for r in MAT.derived_table(spark, src, "moved", build, tables=("t",)).collect()] == [5]
    assert builds == [1, 1]
    assert len(list((tmp_path / "b").glob("derived_moved-*/t"))) == 1


def test_concurrent_first_calls_build_once(spark, tmp_path, monkeypatch):
    """Two callers missing the same artifact at once: the second waits on
    the first one's build instead of paying its own."""
    import threading
    import time

    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", str(tmp_path / "root"))
    src = _one_table_src(tmp_path)
    started, release = threading.Event(), threading.Event()
    builds, results = [], []

    def build():
        builds.append(1)
        started.set()
        release.wait(30)
        return spark.createDataFrame([(3,)], "v int")

    def call():
        results.append([r.v for r in MAT.derived_table(spark, src, "race", build, tables=("t",)).collect()])

    first = threading.Thread(target=call)
    first.start()
    assert started.wait(30)
    second = threading.Thread(target=call)
    second.start()
    time.sleep(0.5)  # the second caller reaches the artifact while the first builds
    release.set()
    first.join(60)
    second.join(60)
    assert not first.is_alive() and not second.is_alive()
    assert builds == [1]
    assert results == [[3], [3]]


def _package_files_containing(needle: str) -> list[str]:
    import os

    import market_data_mining_project_spark as pkg

    root = os.path.dirname(pkg.__file__)
    hits = []
    for dirpath, _, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            if name.endswith(".py"):
                with open(path) as fh:
                    if needle in fh.read():
                        hits.append(os.path.relpath(path, root))
    return sorted(hits)


def test_only_the_cache_layers_publish_staged():
    """Models go through ml.persistence and derived frames through
    materialize.derived_table; no third cache publishes on its own."""
    assert _package_files_containing("publish_staged(") == [
        "ml/persistence.py",
        "sources/materialize.py",
    ]


def test_one_data_version_function():
    assert _package_files_containing("data_version_cached") == []


def test_bench_telemetry_degrades_without_ui(spark):
    """The bench's stage-telemetry sampler must NEVER cost a measured pass:
    with the UI (its REST source) disabled — the conftest session shape —
    timing proceeds and telemetry simply stays absent."""
    import bench

    tel: dict = {}
    timings = bench._time_catalog(
        spark, {"probe": lambda s, sf: s.range(10)}, "unused-sf-dir", 1, telemetry=tel
    )
    assert timings["probe"] >= 0
    assert tel == {}
