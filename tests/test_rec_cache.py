"""Versioned recommendation cache (M14 serving surface; reference
customer_recommendation_cache, customers/models.py:71-85 + views.py:203-224):
the hybrid blend is a derived table whose name carries alpha and the mining
semver and whose path carries the data version. A hit serves without
recompute; a data rewrite, a new alpha or a semver bump misses and
recomputes."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from market_data_mining_project_spark.sources import materialize as MAT
from market_data_mining_project_spark.sources.tables import read_parquet


def _recs(spark, tag: int):
    return spark.createDataFrame(
        [(1, f"Brand#{tag}", 0.9, 1), (1, f"Brand#{tag + 1}", 0.5, 2), (2, f"Brand#{tag}", 0.7, 1)],
        "user LONG, item STRING, hybrid_score DOUBLE, rec_rank INT",
    )


@pytest.fixture
def src(tmp_path, monkeypatch):
    """A one-table source dir under a sandboxed model-cache root."""
    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", str(tmp_path / "root"))
    d = tmp_path / "src"
    d.mkdir()
    (d / "t.parquet").write_bytes(b"v1")
    return d


def test_hit_invalidate_recompute_cycle(spark, src):
    calls = []

    def compute(tag):
        def fn():
            calls.append(tag)
            return _recs(spark, tag)

        return fn

    def serve(name, tag):
        return MAT.derived_table(spark, str(src), name, compute(tag), tables=("t",))

    # cold: miss → compute + publish
    out1 = serve("recs", 10)
    assert calls == [10]
    assert {r.item for r in out1.filter(F.col("user") == 1).collect()} == {"Brand#10", "Brand#11"}

    # warm: same name and data version → served from parquet, no recompute
    out2 = serve("recs", 99)
    assert calls == [10]
    assert sorted(map(tuple, out1.collect())) == sorted(map(tuple, out2.collect()))

    # a rewrite of the source: new data version → recompute into a NEW path
    (src / "t.parquet").write_bytes(b"v2-rewritten")
    out3 = serve("recs", 20)
    assert calls == [10, 20]
    assert {r.item for r in out3.filter(F.col("user") == 1).collect()} == {"Brand#20", "Brand#21"}

    # artifacts are per version (published first-wins, never destroyed by a
    # later version): the old blend is still on disk, but serving keys on
    # the CURRENT version, so serving again must not recompute
    paths = glob.glob(os.path.join(os.environ["SPARK_GRAFT_MODEL_DIR"], "derived_recs-*", "t"))
    assert len(paths) == 2
    items = [{r.item for r in read_parquet(spark, p).filter(F.col("user") == 1).collect()} for p in paths]
    assert {"Brand#10", "Brand#11"} in items
    serve("recs", 99)
    assert calls == [10, 20]

    # alpha is part of the key too (the reference caches per-alpha blends)
    serve("recs_a0.3", 30)
    assert calls == [10, 20, 30]


# --- max_neighbors: the capped k-NN serving path vs exact CF ------------------


def _ui_fixture(spark):
    """(user, item, cnt): query user 0 co-purchases with users 1..6 at
    strictly decreasing similarity (higher user id → fewer shared items)."""
    rows = []
    items = [f"i{j}" for j in range(8)]
    for it in items:
        rows.append((0, it, 2))
    for v in range(1, 7):
        for it in items[: 8 - v]:  # user v shares 8-v items with user 0
            rows.append((v, it, 1))
        rows.append((v, f"only{v}", 3))  # plus an item user 0 never bought
    return spark.createDataFrame(rows, "user LONG, item STRING, cnt LONG")


def test_cf_max_neighbors_generous_cap_equals_exact(spark):
    from market_data_mining_project_spark.operators.recommend import cosine_cf_scores

    ui = _ui_fixture(spark)
    q = spark.createDataFrame([(0,)], "user LONG")
    exact = cosine_cf_scores(None, "user", "item", q, k=10, ui=ui).collect()
    capped = cosine_cf_scores(None, "user", "item", q, k=10, max_neighbors=100, ui=ui).collect()
    assert sorted(map(tuple, exact)) == sorted(map(tuple, capped))


def test_cf_max_neighbors_prunes_neighborhood_before_scoring(spark):
    """With cap=2 only the top-2 most-similar users contribute: items owned
    solely by pruned neighbors must vanish from the candidates, and the
    surviving scores must equal a driver-side recomputation from exactly
    those two neighborhoods."""
    from market_data_mining_project_spark.operators.recommend import (
        cosine_cf_scores,
        user_similarities,
    )

    ui = _ui_fixture(spark)
    q = spark.createDataFrame([(0,)], "user LONG")
    sims = {
        r.other_user: r.sim for r in user_similarities(ui, q).collect()
    }
    assert len(sims) == 6  # all co-purchasers are candidates pre-cap
    top2 = sorted(sims, key=lambda u: (-sims[u], u))[:2]

    capped = cosine_cf_scores(None, "user", "item", q, k=10, max_neighbors=2, ui=ui).collect()
    got = {r.item: r.score for r in capped}
    # only the top-2 neighbors' exclusive items may appear
    assert set(got) == {f"only{u}" for u in top2}
    for u in top2:
        assert got[f"only{u}"] == pytest.approx(sims[u] * 3, abs=1e-6)


def test_cf_capped_plan_adds_windowed_prune(spark):
    """Plan difference on record: the capped variant carries the row_number
    window over the similarity frame; the exact default does not."""
    from market_data_mining_project_spark.operators.recommend import cosine_cf_scores

    ui = _ui_fixture(spark)
    q = spark.createDataFrame([(0,)], "user LONG")
    exact_plan = (
        cosine_cf_scores(None, "user", "item", q, k=5, ui=ui)
        ._jdf.queryExecution().executedPlan().toString()
    )
    capped_plan = (
        cosine_cf_scores(None, "user", "item", q, k=5, max_neighbors=2, ui=ui)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "__nr" in capped_plan and "__nr" not in exact_plan


def test_empty_result_is_a_hit_not_a_perpetual_miss(spark, src):
    """A legitimately-empty recommendation set must cache like any other:
    validity is the published artifact, not its row count — a row-count
    probe recomputed (and crashed the caller on None) every serve whenever
    compute() produced zero rows."""
    calls = []

    def compute():
        calls.append(1)
        return spark.createDataFrame(
            [], "user LONG, item STRING, hybrid_score DOUBLE, rec_rank INT"
        )

    def serve():
        return MAT.derived_table(spark, str(src), "empty_recs", compute, tables=("t",))

    assert serve().count() == 0
    assert calls == [1]
    assert serve().count() == 0
    assert calls == [1], "empty cached result must not trigger recompute"
    # a data rewrite still invalidates
    (src / "t.parquet").write_bytes(b"v2-rewritten")
    serve()
    assert calls == [1, 1]


def test_semver_bump_rebuilds_the_hybrid_blend(spark, sf_dir, tmp_path, monkeypatch):
    """The mining semver is part of the blend's key: bumping it misses
    even though alpha and the data are unchanged."""
    from market_data_mining_project_spark.plans import analytics_domain as AD

    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", str(tmp_path))
    calls = []

    def blend(spark, sf_dir):
        calls.append(1)
        return _recs(spark, 10)

    monkeypatch.setattr(AD, "_hybrid_blend_live", blend)
    first = AD.q_hybrid_recommendations(spark, sf_dir).collect()
    assert AD.q_hybrid_recommendations(spark, sf_dir).collect() == first
    assert calls == [1]
    monkeypatch.setattr(AD, "RULES_MINING_SEMVER", AD.RULES_MINING_SEMVER + "-bumped")
    assert AD.q_hybrid_recommendations(spark, sf_dir).collect() == first
    assert calls == [1, 1]
