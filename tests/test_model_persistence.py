"""Model persistence (M8/M9 cache surface): save → reload in a fresh
PipelineModel object → bit-identical scores, plus the load-or-train /
has_cached_model / force / data-version contracts (reference
ml_models.py:101-214)."""

from __future__ import annotations

import os

import pytest
from pyspark.ml import Pipeline
from pyspark.ml.feature import VectorAssembler
from pyspark.sql import functions as F

from market_data_mining_project_spark.ml import persistence as P
from market_data_mining_project_spark.ml.pipelines import (
    TrainedModel,
    score_with_probability,
    train_classifier,
)


@pytest.fixture()
def model_root(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", str(tmp_path / "models"))
    return str(tmp_path / "models")


def _labeled(spark, n=400, offset=0):
    return spark.range(offset, offset + n).select(
        "id",
        (F.sin(F.col("id") * 0.7) + F.rand(seed=1) * 0.1).alias("f1"),
        (F.cos(F.col("id") * 1.3) + F.rand(seed=2) * 0.1).alias("f2"),
        (F.col("id") % 3 == 0).cast("int").alias("y"),
    )


def test_save_reload_bit_identical_scores(spark, model_root):
    df = _labeled(spark)
    trained = train_classifier(
        df, ["f1", "f2"], "y", kind="gradient_boost", overrides={"maxIter": 5}
    )
    model, metrics, cached = P.load_or_train("t_gbt", "v1", lambda: trained)
    assert not cached
    assert P.has_cached_model("t_gbt", "v1")

    # a second call must NOT invoke the trainer — reload from disk
    def boom():
        raise AssertionError("load_or_train retrained despite a cached model")

    model2, metrics2, cached2 = P.load_or_train("t_gbt", "v1", boom)
    assert cached2
    assert metrics2 == pytest.approx(metrics)  # sidecar round-trips the dict

    # the reloaded PipelineModel is a fresh object scoring BIT-identically
    held = _labeled(spark, n=150, offset=1000)
    s1 = {r.id: r.p for r in score_with_probability(model, held, out="p").select("id", "p").collect()}
    s2 = {r.id: r.p for r in score_with_probability(model2, held, out="p").select("id", "p").collect()}
    assert s1 == s2  # exact float equality, not approx


def test_force_retrains_and_overwrites(spark, model_root):
    df = _labeled(spark)
    calls = []

    def trainer():
        calls.append(1)
        return train_classifier(df, ["f1", "f2"], "y", kind="gradient_boost", overrides={"maxIter": 3})

    P.load_or_train("t_force", "v1", trainer)
    P.load_or_train("t_force", "v1", trainer)
    assert len(calls) == 1
    P.load_or_train("t_force", "v1", trainer, force=True)
    assert len(calls) == 2
    assert P.has_cached_model("t_force", "v1")


def test_cache_miss_publish_keeps_a_concurrent_winner(spark, model_root):
    """Two callers that miss the same key both train; the one that
    publishes second adopts the first's directory instead of replacing
    the files the first (and its readers) may be serving from."""
    df = _labeled(spark)
    winner = {}

    def trainer():
        trained = train_classifier(df, ["f1", "f2"], "y", kind="gradient_boost", overrides={"maxIter": 3})
        # the concurrent winner publishes the same key while we train
        P.save_model(trained.model, trained.metrics, "t_race", "v1")
        winner["ino"] = os.stat(P.model_dir("t_race", "v1")).st_ino
        return trained

    _m, _met, cached = P.load_or_train("t_race", "v1", trainer)
    assert not cached
    assert os.stat(P.model_dir("t_race", "v1")).st_ino == winner["ino"]
    assert P.has_cached_model("t_race", "v1")


def test_cache_miss_publish_keeps_a_winner_that_replaced_a_partial_dir(spark, model_root):
    """A crashed copy is in place at the miss, so the concurrent winner
    replaces it; the caller that publishes second must still adopt the
    winner's complete directory, not treat it as the crashed copy."""
    d = P.model_dir("t_race_partial", "v1")
    os.makedirs(d)
    with open(os.path.join(d, "metrics.json"), "w") as fh:
        fh.write("{}")
    winner = {}
    model = Pipeline(stages=[VectorAssembler(inputCols=["x"], outputCol="v")]).fit(
        spark.createDataFrame([(1.0,)], "x double")
    )

    def trainer():
        P.save_model(model, {"winner": 1.0}, "t_race_partial", "v1", overwrite=True)
        winner["ino"] = os.stat(d).st_ino
        return TrainedModel(model=model, metrics={"winner": 0.0})

    _m, _met, cached = P.load_or_train("t_race_partial", "v1", trainer)
    assert not cached
    assert os.stat(d).st_ino == winner["ino"]
    assert P.load_model("t_race_partial", "v1")[1] == {"winner": 1.0}


def test_data_version_tracks_input_changes(tmp_path):
    sf = tmp_path / "sfX"
    sf.mkdir()
    f = sf / "lineitem.parquet"
    f.write_bytes(b"aaaa")
    v1 = P.data_version(str(sf), tables=("lineitem",))
    assert v1 == P.data_version(str(sf), tables=("lineitem",))  # stable
    f.write_bytes(b"bbbbbb")  # size change → new version → retrain
    assert P.data_version(str(sf), tables=("lineitem",)) != v1


def test_partial_cache_artifacts_are_not_served(spark, model_root):
    """A half-written cache (metrics sidecar without a model dir, or the
    reverse) must read as a miss — the atomic staging rename makes this
    state unreachable through save_model, but a crashed copy or manual
    tampering must trigger retraining, not a load failure."""
    d = P.model_dir("t_partial", "v1")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "metrics.json"), "w") as fh:
        fh.write("{}")
    assert not P.has_cached_model("t_partial", "v1")  # no model dir

    calls = []

    def trainer():
        calls.append(1)
        return train_classifier(
            _labeled(spark), ["f1", "f2"], "y", kind="gradient_boost", overrides={"maxIter": 3}
        )

    _m, _met, cached = P.load_or_train("t_partial", "v1", trainer)
    assert not cached and calls == [1]
    assert P.has_cached_model("t_partial", "v1")


def test_different_versions_are_separate_artifacts(spark, model_root):
    df = _labeled(spark)
    trained = train_classifier(df, ["f1", "f2"], "y", kind="gradient_boost", overrides={"maxIter": 3})
    P.load_or_train("t_ver", "v1", lambda: trained)
    assert P.has_cached_model("t_ver", "v1")
    assert not P.has_cached_model("t_ver", "v2")
    assert os.path.isdir(P.model_dir("t_ver", "v1"))


def test_metrics_artifact_roundtrip(model_root):
    payload = {"rows": [[30, "svm", 0.8, 0.7, 0.6, 0.65, 0.9]]}
    calls = []

    def compute():
        calls.append(1)
        return payload

    assert P.load_or_compute_metrics("grid", "v1", compute) == payload
    assert calls == [1]
    served = P.load_or_compute_metrics("grid", "v1", lambda: {"rows": []})
    assert served == payload  # a repeat call is served from the artifact
    assert P.load_or_compute_metrics("grid", "v2", compute) == payload
    assert calls == [1, 1]  # a new data version misses


def test_metrics_publish_keeps_the_first_directory(model_root):
    """A content-addressed metrics artifact publishes first-wins: a caller
    that computed while another published keeps the winner's directory
    (same inode), so a concurrent reader never finds it deleted."""
    d = P.model_dir("m_race", "v1")
    first = {}

    def racing():
        # another process publishes while this call computes
        P.load_or_compute_metrics("m_race", "v1", lambda: {"winner": 1})
        first["ino"] = os.stat(d).st_ino
        return {"winner": 0}

    P.load_or_compute_metrics("m_race", "v1", racing)
    assert os.stat(d).st_ino == first["ino"]
    assert P.load_or_compute_metrics("m_race", "v1", lambda: {"winner": 2}) == {"winner": 1}
    assert not [n for n in os.listdir(os.path.dirname(d)) if ".tmp-" in n]


def test_grid_metrics_served_from_cached_artifact(spark, sf_dir, model_root):
    """The reference's has_cached_models gate over the 16-cell grid
    (ml_models.py:197-210): when the artifact for the current data version
    exists, q_model_grid_metrics serves it without training — verified by
    priming a sentinel artifact and observing it come back verbatim."""
    from market_data_mining_project_spark.plans.analytics_domain import (
        q_model_grid_metrics,
    )

    sentinel = [
        [h, kind, 0.5, 0.5, 0.5, 0.5, 0.5]
        for h in (30, 90, 180, 365)
        for kind in ("gradient_boost", "neural_network", "random_forest", "svm")
    ]
    P.load_or_compute_metrics(
        "horizon_grid_metrics", P.data_version(sf_dir), lambda: {"rows": sentinel}
    )
    out = q_model_grid_metrics(spark, sf_dir)
    rows = [
        [r.horizon_days, r.model_kind, r.accuracy, r.precision, r.recall, r.f1, r.auc]
        for r in out.collect()
    ]
    assert rows == sentinel  # served from cache, no 16-fit training pass


def test_data_version_cached_sees_midprocess_rewrite(tmp_path):
    """The memo key carries a cheap per-table (size, mtime) signature, so
    a data rewrite INSIDE one process invalidates the memoized
    fingerprint — a stale memo here meant a cached blend could be served
    for data that no longer exists."""
    sf = tmp_path / "sfY"
    sf.mkdir()
    f = sf / "lineitem.parquet"
    f.write_bytes(b"aaaa")
    v1 = P.data_version(str(sf), tables=("lineitem",))
    assert v1 == P.data_version(str(sf), tables=("lineitem",))
    f.write_bytes(b"bbbbbb")  # rewrite in the SAME process
    v2 = P.data_version(str(sf), tables=("lineitem",))
    assert v2 != v1
    assert v2 == P._walk_version(str(sf), ("lineitem",))


def test_atomic_publish_force_raises_on_undeletable_final(tmp_path, monkeypatch):
    """overwrite=True must not silently keep the OLD artifact: when the
    pre-delete of `final` fails for a real reason (EACCES, simulated —
    the suite runs as root so a real chmod wouldn't bite), the error
    surfaces instead of the rename failing against the survivor and the
    adopt-the-winner branch discarding our staging as if a concurrent
    force-publisher had won."""
    import shutil as _sh

    staging = tmp_path / "staging"
    staging.mkdir()
    (staging / "payload").write_text("new")
    final = tmp_path / "final"
    final.mkdir()
    (final / "payload").write_text("old")

    real_rmtree = _sh.rmtree

    def guarded(path, *a, **kw):
        if os.path.realpath(str(path)) == os.path.realpath(str(final)):
            raise PermissionError(13, "Permission denied", str(path))
        return real_rmtree(path, *a, **kw)

    monkeypatch.setattr(P.shutil, "rmtree", guarded)
    with pytest.raises(PermissionError):
        P.atomic_publish(str(staging), str(final), overwrite=True)
    # our staging survives the failure — the caller decides its fate —
    # and the old artifact was not silently adopted as "the winner"
    assert (staging / "payload").read_text() == "new"
    assert (final / "payload").read_text() == "old"


def test_atomic_publish_force_tolerates_absent_final(tmp_path):
    """FileNotFoundError from the pre-delete is benign (nothing to
    replace): publish proceeds."""
    staging = tmp_path / "staging2"
    staging.mkdir()
    (staging / "payload").write_text("v2")
    final = tmp_path / "final2"
    P.atomic_publish(str(staging), str(final), overwrite=True)
    assert (final / "payload").read_text() == "v2"


def test_data_version_memo_is_bounded_per_table_set(tmp_path):
    """N rewrites keep exactly ONE memo entry per (path, tables) — the
    signature lives in the value, compare-and-refresh, so a long-lived
    process can't accumulate dead entries."""
    sf = tmp_path / "sfZ"
    sf.mkdir()
    f = sf / "lineitem.parquet"
    before = len(P._DATA_VERSION_MEMO)
    for i in range(5):
        f.write_bytes(b"x" * (i + 1))
        P.data_version(str(sf), tables=("lineitem",))
    after = len(P._DATA_VERSION_MEMO)
    assert after == before + 1


def test_data_version_cached_sees_partition_level_rewrite(tmp_path):
    """Directory datasets: replacing files inside ONE partition
    subdirectory (dynamic partition overwrite) leaves the dataset
    directory's own mtime untouched on POSIX — the signature scans one
    level of children, so the memo still invalidates."""
    import time as _time

    sf = tmp_path / "sfP"
    part = sf / "lineitem.parquet" / "date=2024-01-01"
    part.mkdir(parents=True)
    (part / "part-0.parquet").write_bytes(b"aaaa")
    v1 = P.data_version(str(sf), tables=("lineitem",))
    ds_mtime = os.stat(sf / "lineitem.parquet").st_mtime_ns
    _time.sleep(0.01)
    # a real dynamic-partition overwrite deletes the old part files and
    # writes new names INSIDE the partition dir — that updates the
    # partition directory's mtime (a level-1 child) but NOT the dataset
    # directory's own mtime, exactly the case a top-level-only probe
    # missed
    (part / "part-0.parquet").unlink()
    (part / "part-1.parquet").write_bytes(b"bbbbbb")
    assert os.stat(sf / "lineitem.parquet").st_mtime_ns == ds_mtime
    v2 = P.data_version(str(sf), tables=("lineitem",))
    assert v2 != v1


def test_pinned_cache_root_outlives_an_env_change_on_its_thread_only(tmp_path, monkeypatch):
    """A background fit pins the root it was queued under: a later change
    of SPARK_GRAFT_MODEL_DIR must not move its artifacts, and the pin must
    not leak to other threads."""
    import threading

    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", str(tmp_path / "sandbox"))
    seen = {}
    with P.pinned_cache_root(P.model_cache_root()):
        monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", str(tmp_path / "default"))
        seen["pinned"] = P.model_dir("m", "v")
        other = threading.Thread(target=lambda: seen.setdefault("other", P.model_dir("m", "v")))
        other.start()
        other.join(10)
    assert not other.is_alive()
    assert seen["pinned"] == str(tmp_path / "sandbox" / "m-v")
    assert seen["other"] == str(tmp_path / "default" / "m-v")
    assert P.model_dir("m", "v") == str(tmp_path / "default" / "m-v")
