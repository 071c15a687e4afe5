"""Gates for ml.fit_pool — the concurrent-fit single-flight (guide §2.6).

The scheduling tests need no Spark: the pool orchestrates arbitrary
callables; the ML wiring is exercised by the existing entry tests
(test_rules_ml / test_ann_horizon), which route their fits through it.
The label tests run plain ``spark.range`` jobs on the session fixture.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

import pytest

from market_data_mining_project_spark.ml import fit_pool

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _key(tag: str) -> tuple:
    # unique per test invocation: the pool memoizes for the process lifetime
    return ("test", tag, time.monotonic_ns())


def test_shared_runs_once_and_memoizes():
    calls = []
    k = _key("once")
    assert fit_pool.shared(k, lambda: calls.append(1) or 41 + 1) == 42
    assert fit_pool.shared(k, lambda: calls.append(1) or -1) == 42
    assert calls == [1]


def test_prefetch_then_shared_joins_same_cell():
    started = threading.Event()
    release = threading.Event()
    k = _key("join")

    def slow():
        started.set()
        release.wait(10)
        return "fitted"

    fit_pool.prefetch(k, slow)
    assert started.wait(10)  # the pool picked it up
    fit_pool.prefetch(k, lambda: "other")  # dedup: second registration no-ops
    release.set()
    assert fit_pool.shared(k, lambda: "loser") == "fitted"


def test_consumer_not_serialized_behind_queued_keys():
    """The consumer path must run its own cell INLINE when no pool thread
    has started it — never wait behind other keys saturating the 2-thread
    pool (the q_horizon single-entry case: its MLP fit must not queue
    behind a prefetched ALS + churn fit)."""
    release = threading.Event()
    running = []

    def blocker(tag):
        def fn():
            running.append(tag)
            release.wait(10)
            return tag

        return fn

    # saturate both pool workers + queue a third
    for tag in ("a", "b", "c"):
        fit_pool.prefetch(_key(tag), blocker(tag))
    deadline = time.monotonic() + 10
    while len(running) < 2 and time.monotonic() < deadline:
        time.sleep(0.01)
    assert len(running) == 2  # two in flight, one queued
    t0 = time.monotonic()
    got = fit_pool.shared(_key("mine"), lambda: "inline")
    elapsed = time.monotonic() - t0
    release.set()
    assert got == "inline"
    assert elapsed < 5  # returned while the blockers still held the pool


def test_concurrent_consumers_share_one_run():
    """More threads than cores race prefetch/shared on one key, with a
    short switch interval: the fit must run exactly once and every caller
    must see its value."""
    k = _key("race")
    calls = []
    results = []

    def fit():
        calls.append(1)
        time.sleep(0.05)
        return "fitted"

    def consume(i):
        if i % 4 == 0:
            fit_pool.prefetch(k, fit)
        results.append(fit_pool.shared(k, fit))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=consume, args=(i,)) for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(10)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert calls == [1]
    assert results == ["fitted"] * 16


def test_failure_is_not_memoized_and_next_call_retries():
    k = _key("boom")
    calls = []

    def bad():
        calls.append(1)
        raise ValueError("fit failed")

    with pytest.raises(ValueError, match="fit failed"):
        fit_pool.shared(k, bad)
    assert fit_pool.shared(k, lambda: "retried") == "retried"
    assert fit_pool.shared(k, lambda: "never") == "retried"
    assert calls == [1]


def test_consumer_joined_to_a_failed_prefetch_retries():
    started = threading.Event()
    release = threading.Event()
    k = _key("bg-boom")

    def bad():
        started.set()
        release.wait(10)
        raise RuntimeError("transient")

    fit_pool.prefetch(k, bad)
    assert started.wait(10)
    threading.Timer(0.2, release.set).start()
    assert fit_pool.shared(k, lambda: "recovered") == "recovered"


def test_new_data_version_replaces_the_artifact_cell():
    root = f"root-{time.monotonic_ns()}"
    assert fit_pool.shared(("model", "v1", root), lambda: "old") == "old"
    assert fit_pool.shared(("model", "v2", root), lambda: "new") == "new"
    held = [c.key for c in list(fit_pool._CELLS.values()) if c.key[2:] == (root,)]
    assert held == [("model", "v2", root)]


def test_queued_cell_replaced_by_a_new_version_never_runs():
    """A prefetch still queued when a newer data version replaces its cell
    is skipped by the worker: its result would be discarded anyway."""
    release = threading.Event()
    running = []

    def blocker():
        running.append(1)
        release.wait(10)

    for tag in ("hold-a", "hold-b"):
        fit_pool.prefetch(_key(tag), blocker)
    deadline = time.monotonic() + 10
    while len(running) < 2 and time.monotonic() < deadline:
        time.sleep(0.01)
    assert len(running) == 2  # both workers busy: the v1 cell stays queued
    root = f"root-{time.monotonic_ns()}"
    ran = []
    fit_pool.prefetch(("model", "v1", root), lambda: ran.append("v1"))
    assert fit_pool.shared(("model", "v2", root), lambda: "new") == "new"
    # two sentinels queued behind v1 meet at a barrier, so they can only
    # both run once the worker that took v1 has finished with it
    barrier = threading.Barrier(3, timeout=10)
    for tag in ("after-a", "after-b"):
        fit_pool.prefetch(_key(tag), barrier.wait)
    release.set()
    barrier.wait()
    assert ran == []


def test_unconsumed_prefetch_does_not_block_exit():
    """A process that prefetched a fit nobody consumed exits at once: the
    workers are daemon threads, and interpreter exit abandons them."""
    code = (
        "import time\n"
        "from market_data_mining_project_spark.ml import fit_pool\n"
        "fit_pool.prefetch(('sleeper', 'v', 'r'), lambda: time.sleep(60))\n"
        "time.sleep(0.2)\n"  # let a worker pick the cell up
    )
    t0 = time.monotonic()
    subprocess.run([sys.executable, "-c", code], cwd=REPO, check=True, timeout=30)
    assert time.monotonic() - t0 < 10


def _pool_probe(spark, ran: threading.Event | None = None):
    """A cell returning the (scheduling pool, job group) its job ran under."""

    def probe():
        spark.range(8).count()
        sc = spark.sparkContext
        labels = (sc.getLocalProperty("spark.scheduler.pool"),
                  sc.getLocalProperty("spark.jobGroup.id"))
        if ran is not None:
            ran.set()
        return labels

    return probe


def test_prefetched_cell_carries_the_background_label(spark):
    """A worker runs the cell in the background pool and under its fit's
    own job group, so a stage listing can bill each stage to its fit."""
    ran = threading.Event()
    k = _key("label")
    fit_pool.prefetch(k, _pool_probe(spark, ran))
    assert ran.wait(60)  # a worker ran it, so shared only joins
    assert fit_pool.shared(k, _pool_probe(spark)) == ("mdmp_background_fits", "fit:test")


def test_inline_consumer_runs_unlabelled(spark):
    assert fit_pool.shared(_key("inline-label"), _pool_probe(spark))[0] is None
    assert spark.sparkContext.getLocalProperty("spark.scheduler.pool") is None


def test_grid_cell_threads_inherit_the_callers_job_group(spark, monkeypatch):
    """train_multi_horizon_grid fits its cells on pool threads; each must
    carry the caller's local properties (job group, background label).
    The classifier is a probe, so no model is fitted."""
    from market_data_mining_project_spark.ml import pipelines

    sc = spark.sparkContext
    seen = []

    class Probe:
        def fit(self, df):
            df.count()  # a Spark job submitted from the cell thread
            seen.append(sc.getLocalProperty("spark.jobGroup.id"))
            return self

        def transform(self, df):
            return df

    monkeypatch.setattr(pipelines, "_classifier", lambda *a, **k: Probe())
    monkeypatch.setattr(pipelines, "binary_metrics", lambda df: {})
    labeled = spark.range(40).selectExpr("CAST(id AS DOUBLE) AS x", "id % 2 AS y")
    sc.setJobGroup("grid-probe", "grid cells inherit the caller's group")
    try:
        out = pipelines.train_multi_horizon_grid(
            labeled, ["x"], ("y",), kinds=("a", "b", "c"), parallelism=2
        )
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    assert len(out) == 3
    assert seen == ["grid-probe"] * 3


def test_a_failed_prefetched_fit_is_retried_with_its_one_declaration(
    sf_dir, tmp_path, monkeypatch
):
    """A ``_FITS`` body that fails under prefetch is rerun, the same body
    with the same arguments under the same pinned cache root, by the next
    consumer, which gets its value. The body fits nothing."""
    from market_data_mining_project_spark.ml import persistence
    from market_data_mining_project_spark.plans import analytics_domain as AD

    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", str(tmp_path / "models"))
    failed = threading.Event()
    calls = []

    def body(spark, sf, version):
        calls.append((spark, sf, version, persistence.model_cache_root()))
        if len(calls) == 1:
            failed.set()
            raise RuntimeError("transient fit failure")
        return "fitted"

    monkeypatch.setattr(AD, "_FITS", {"probe": body})
    fitted = AD._fit_cells("spark", sf_dir)
    assert failed.wait(10)  # the prefetched run failed
    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", str(tmp_path / "elsewhere"))
    assert fitted("probe") == "fitted"
    assert len(calls) == 2 and calls[0] == calls[1]
    assert calls[0] == ("spark", sf_dir, persistence.data_version(sf_dir), str(tmp_path / "models"))


def test_each_catalog_fit_is_declared_once():
    """The fit pool's two entry points and the two trained artifacts each
    appear at one call site of the plan module: the ``_FITS`` table feeds
    both the prefetch and every consumer."""
    import re

    with open(os.path.join(
        REPO, "market_data_mining_project_spark", "plans", "analytics_domain.py"
    )) as fh:
        src = fh.read()
    assert len(re.findall(r"FITPOOL\.prefetch\(", src)) == 1
    assert len(re.findall(r"FITPOOL\.shared\(", src)) == 1
    assert len(re.findall(r'load_or_train\(\s*"churn_gbt"', src)) == 1
    assert len(re.findall(r'load_or_train\(\s*"horizon_mlp_90d"', src)) == 1
