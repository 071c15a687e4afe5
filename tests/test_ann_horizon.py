"""IVF ANN recall gate + M9 horizon-label model-grid training."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from market_data_mining_project_spark.operators import similarity as SIM
from market_data_mining_project_spark.sources.tables import load_table


def test_ivf_topk_recall_vs_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in SIM.cosine_topk(emb, queries, "embedding", "vec_id", k=5).collect()
    }
    # nprobe=8 of 16 cells scans ~half the corpus — recall should be high
    approx = {
        (r.query_id, r.neighbor_id)
        for r in SIM.ivf_topk(
            emb, queries, "embedding", "vec_id", k=5, n_cells=16, nprobe=8, seed=42
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"IVF recall {recall:.2f}"


def test_ivf_probes_scan_fraction(spark, sf_dir):
    """nprobe/n_cells bounds the scanned fraction: the candidates a query
    actually compares against must be well below the corpus — measured by
    running ivf_topk with k = corpus size, where every scanned candidate
    surfaces as an output row (an implementation probing all cells would
    emit ~n rows per query)."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    queries = emb.filter(F.col("vec_id") < 3)
    assigned, _model = SIM.ivf_assign(emb, "embedding", "vec_id", n_cells=16, seed=42)
    sizes = assigned.groupBy("cell").count().collect()
    assert len(sizes) > 8  # KMeans actually split the space
    scanned = (
        SIM.ivf_topk(
            emb, queries, "embedding", "vec_id", k=n, n_cells=16, nprobe=4, seed=42
        )
        .groupBy("query_id")
        .count()
        .collect()
    )
    assert len(scanned) == 3
    for r in scanned:
        assert 0 < r["count"] <= 0.6 * n, (
            f"query {r['query_id']} compared against {r['count']}/{n} vectors — "
            "nprobe=4/16 should bound the scan to a fraction of the corpus"
        )


def test_horizon_grid_trains_all_kinds(spark, sf_dir):
    """M9: the engineered A10-shaped feature frame trains the FULL 4-kind
    grid (RF, GBT, MLP, linear SVM — reference ml_models.py:538-567) on the
    90-day horizon. Estimator sizes are trimmed for fixture speed; the
    architecture (layers, depth semantics) is the production one."""
    from market_data_mining_project_spark.ml.pipelines import train_multi_horizon_grid
    from market_data_mining_project_spark.plans.analytics_domain import (
        HORIZON_FEATURE_COLS,
        q_horizon_features,
    )

    feats = q_horizon_features(spark, sf_dir).coalesce(4).cache()
    grid = train_multi_horizon_grid(
        feats,
        HORIZON_FEATURE_COLS,
        label_cols=("buy_90d",),
        overrides={
            "random_forest": {"numTrees": 20, "maxDepth": 6},
            "gradient_boost": {"maxIter": 10},
            "neural_network": {"maxIter": 30},
            "svm": {"maxIter": 20},
        },
    )
    kinds = {"random_forest", "gradient_boost", "neural_network", "svm"}
    assert set(grid) == {("buy_90d", kind) for kind in kinds}
    for (_label, kind), metrics in grid.items():
        assert 0.0 <= metrics["accuracy"] <= 1.0, kind
        assert metrics["f1"] > 0.3, (kind, metrics)


def test_horizon_grid_trains_per_horizon(spark, sf_dir):
    """M9 trains SEPARATE models per horizon (reference train_models,
    ml_models.py:661-686): every horizon target fits and scores sanely."""
    from market_data_mining_project_spark.ml.pipelines import train_classifier
    from market_data_mining_project_spark.plans.analytics_domain import (
        HORIZON_FEATURE_COLS,
        q_horizon_features,
    )

    feats = q_horizon_features(spark, sf_dir).coalesce(4).cache()
    for target in ("buy_30d", "buy_90d", "buy_180d", "buy_365d"):
        trained = train_classifier(
            feats, HORIZON_FEATURE_COLS, target, kind="random_forest",
            overrides={"numTrees": 10, "maxDepth": 5},
        )
        assert 0.0 <= trained.metrics["accuracy"] <= 1.0, target
        assert trained.metrics["f1"] > 0.3, (target, trained.metrics)


def test_model_grid_metrics_surface(spark, sf_dir):
    """M9 training-status surface: the one-call 4×4 grid emits exactly 16
    (horizon, kind) metric rows with sane ranges (reference training-status
    JSON, ml_models.py:583-594)."""
    from market_data_mining_project_spark.plans.analytics_domain import q_model_grid_metrics

    rows = q_model_grid_metrics(spark, sf_dir).collect()
    assert len(rows) == 16
    cells = {(r.horizon_days, r.model_kind) for r in rows}
    assert cells == {
        (h, k)
        for h in (30, 90, 180, 365)
        for k in ("random_forest", "gradient_boost", "neural_network", "svm")
    }
    for r in rows:
        for metric in ("accuracy", "precision", "recall", "f1", "auc"):
            assert 0.0 <= getattr(r, metric) <= 1.0, (r.horizon_days, r.model_kind, metric)
        assert r.f1 > 0.3, (r.horizon_days, r.model_kind, r.f1)


def test_horizon_predictions_serving_shape(spark, sf_dir):
    """M9 serving: brand rollup of >0.5-probability predictions with revenue
    projection (reference ml_models.py:703-745). Gates ranges + shape."""
    from market_data_mining_project_spark.plans.analytics_domain import q_horizon_predictions

    rows = q_horizon_predictions(spark, sf_dir).collect()
    assert 0 < len(rows) <= 10
    for r in rows:
        # >= : the score is rounded to 3dp, so a passing average can land
        # exactly on the 0.1 threshold
        assert 0.1 <= r.ml_prediction_score <= 1.0
        assert 0.0 <= r.confidence <= 1.0
        assert r.confidence <= r.ml_prediction_score + 1e-9
        assert r.predicted_customers >= 1
        assert r.projected_revenue >= 0.0
        # projection = historical_revenue × (90/90) × confidence, rounded
        expected = round(r.historical_revenue * r.confidence, 2)
        assert abs(r.projected_revenue - expected) <= 0.05 * max(expected, 1.0)


def test_horizon_serving_brand_stats_match_labels_aggregate(spark, sf_dir):
    """Pin the invariant q_horizon_predictions' serving path rests on (r13
    ADVICE): the distinct (p_brand, brand_repurchase_rate, brand_popularity)
    projection of the engineered feature frame equals the labels-derived
    brand aggregate — set AND values. True because every labels row
    survives _build_horizon_features' inner joins (cust_stats and dept_freq
    cover every fact (customer, brand)); a future filter or join-type
    change in the feature builder would break THIS test before it could
    silently shrink the serving brand set."""
    from market_data_mining_project_spark.plans.analytics_domain import (
        _build_horizon_features,
        _horizon_feature_parts,
    )

    _fact, labels, cust_stats, brand_stats, dept_freq = _horizon_feature_parts(
        spark, sf_dir
    )
    feats = _build_horizon_features(labels, cust_stats, brand_stats, dept_freq)
    from_feats = {
        (r.p_brand, r.brand_repurchase_rate, r.brand_popularity)
        for r in feats.select(
            "p_brand", "brand_repurchase_rate", "brand_popularity"
        ).distinct().collect()
    }
    from_labels = {
        (r.p_brand, r.brand_repurchase_rate, r.brand_popularity)
        for r in brand_stats.collect()
    }
    labels.unpersist()
    assert from_feats == from_labels
    assert len(from_feats) == len({b for b, _, _ in from_feats})  # one row per brand


def test_horizon_labels_monotone(spark, sf_dir):
    """Longer horizons can only add positives: buy_30d ≤ buy_90d ≤ ... per row."""
    from market_data_mining_project_spark.plans.analytics_domain import q_horizon_labels

    labels = q_horizon_labels(spark, sf_dir)
    bad = labels.filter(
        (F.col("buy_30d") > F.col("buy_90d"))
        | (F.col("buy_90d") > F.col("buy_180d"))
        | (F.col("buy_180d") > F.col("buy_365d"))
    ).count()
    assert bad == 0


def test_ivf_centroid_cache_roundtrip_and_no_refit(spark, sf_dir, tmp_path, monkeypatch):
    """Load-or-fit centroids: the cached second call must reproduce the fit
    call's assignments exactly, and a sentinel artifact must be SERVED
    (proving no KMeans fit runs when the cache hits)."""
    from market_data_mining_project_spark.ml import persistence as PERSIST

    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", str(tmp_path / "ivf_cache"))
    emb = load_table(spark, sf_dir, "embeddings")
    version = PERSIST.data_version(sf_dir, ("embeddings",))

    first, m1 = SIM.ivf_assign(
        emb, "embedding", "vec_id", n_cells=8, seed=42, max_iter=5, cache_version=version
    )
    a1 = sorted((r.vec_id, r.cell) for r in first.collect())
    # second call hits the cache — identical assignments, identical centroids
    second, m2 = SIM.ivf_assign(
        emb, "embedding", "vec_id", n_cells=8, seed=42, max_iter=5, cache_version=version
    )
    assert sorted((r.vec_id, r.cell) for r in second.collect()) == a1
    assert m1.clusterCenters() == m2.clusterCenters()

    # sentinel proof of the no-fit path: overwrite the artifact with fake
    # one-hot centroids; the next call must reflect THEM, not a fresh fit
    dim = len(m1.clusterCenters()[0])
    fake = [[1000.0 if d == c else 0.0 for d in range(dim)] for c in range(8)]
    name = "ivf_centroids_k8_seed42_iter5"
    shutil.rmtree(PERSIST.model_dir(name, version))
    PERSIST.load_or_compute_metrics(name, version, lambda: {"centroids": fake})
    sentinel, m3 = SIM.ivf_assign(
        emb, "embedding", "vec_id", n_cells=8, seed=42, max_iter=5, cache_version=version
    )
    assert m3.clusterCenters() == fake
    # with equidistant-ish fake centroids real vectors collapse onto few
    # cells — the point is only that assignment used the sentinel table
    assert sentinel.count() == emb.count()


def _exec_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_assign_cells_arrow_path_matches_expression_path(spark, sf_dir, monkeypatch):
    """Above ASSIGN_EXPR_MAX_CELLS, assignment runs as ONE Arrow matmul
    (per-centroid struct expressions won't compile at real IVF widths);
    the two paths must agree cell-for-cell on the fixture."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = [
        [float(x) for x in r.embedding]
        for r in emb.orderBy("vec_id").limit(40).collect()
    ]
    arrow_df = SIM.assign_cells(emb, cents, "embedding", "vec_id")
    arrow_plan = _exec_plan(arrow_df)
    assert "ArrowEvalPython" in arrow_plan, "40 cells must take the Arrow path"
    assert arrow_plan.count("ArrowEvalPython") == 1, "assignment must be ONE Arrow pass"
    arrow = sorted((r.vec_id, r.cell) for r in arrow_df.collect())

    monkeypatch.setattr(SIM, "ASSIGN_EXPR_MAX_CELLS", 64)
    expr_df = SIM.assign_cells(emb, cents, "embedding", "vec_id")
    assert "ArrowEvalPython" not in _exec_plan(expr_df)
    assert sorted((r.vec_id, r.cell) for r in expr_df.collect()) == arrow


def test_ivf_topk_recall_at_production_cell_count():
    """The VERDICT r5 scale gate, r8-calibrated: IVF with a REAL cell count
    (n_cells=256 — the width the unrolled-expression path could never
    compile) on the sf0.1 embeddings, recall measured against exact cosine
    top-k over 32 queries. nprobe=64 is the measured operating point: the
    r8 recall-vs-nprobe sweep (PARITY r8, 2000 vectors, weakly clustered
    synthetic embeddings so recall tracks scan fraction) reads 0.531 @
    nprobe=8, 0.688 @ 16, 0.794 @ 32, **0.894 @ 64** (25% scan), 0.975 @
    96 — the ≥0.8-recall knee sits at nprobe=64, replacing the old
    stated-without-alternatives 0.35 @ nprobe=16 bar. Runs its own fixed
    sf_dir so the gate doesn't weaken when the suite runs at sf0.001."""
    import os

    import pytest

    sf_dir = "/root/testdata/sf0.1"
    if not os.path.exists(os.path.join(sf_dir, "embeddings.parquet")):
        pytest.skip("sf0.1 fixture absent")
    from market_data_mining_project_spark.session import get_spark

    spark = get_spark("mdmp-tests", **{"spark.sql.shuffle.partitions": "8"})
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 32)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in SIM.cosine_topk(emb, queries, "embedding", "vec_id", k=5).collect()
    }
    approx_df = SIM.ivf_topk(
        emb, queries, "embedding", "vec_id", k=5, n_cells=256, nprobe=64, seed=42
    )
    approx = {(r.query_id, r.neighbor_id) for r in approx_df.collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"IVF@256/64 recall {recall:.2f} (measured curve: 0.894)"


def test_assign_cells_matches_python_argmin(spark, sf_dir):
    """The expression-side nearest-centroid assignment must equal a
    pure-Python argmin with lowest-index tie-breaking."""
    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in emb.collect()}
    cents = [[float(i == d) for d in range(64)] for i in range(4)]  # 4 one-hot axes
    got = {r.vec_id: r.cell for r in SIM.assign_cells(emb, cents, "embedding", "vec_id").collect()}
    for vid, v in vecs.items():
        dists = [sum((x - c[d]) ** 2 for d, x in enumerate(v)) for c in cents]
        want = min(range(4), key=lambda i: (dists[i], i))
        assert got[vid] == want, vid


def test_assign_cells_broadcast_path_matches_closure_path(
    spark, sf_dir, monkeypatch
):
    """At/above ASSIGN_BROADCAST_MIN_CELLS the centroid matrix ships as an
    explicit SparkContext broadcast variable (one torrent transfer per
    executor) instead of a closure constant copied into every task — same
    math, cell-for-cell identical. Also the 10⁴-cell completion gate: a
    real IVF width runs end-to-end on the broadcast path."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    cents = [
        [float(x) for x in r.embedding]
        for r in emb.orderBy("vec_id").limit(64).collect()
    ]
    closure = sorted(
        (r.vec_id, r.cell)
        for r in SIM.assign_cells(emb, cents, "embedding", "vec_id").collect()
    )
    monkeypatch.setattr(SIM, "ASSIGN_BROADCAST_MIN_CELLS", 64)
    broadcast = sorted(
        (r.vec_id, r.cell)
        for r in SIM.assign_cells(emb, cents, "embedding", "vec_id").collect()
    )
    assert broadcast == closure

    # 10⁴ cells — the deployment width the closure path only documented:
    # deterministic synthetic centroids, assignment must complete and
    # match a local numpy argmin on a sample
    dim = len(cents[0])
    rng = np.random.default_rng(7)
    wide = rng.normal(size=(10_000, dim)).astype("float64")
    sample = emb.orderBy("vec_id").limit(50)
    got = {
        r.vec_id: r.cell
        for r in SIM.assign_cells(
            sample, wide.tolist(), "embedding", "vec_id"
        ).collect()
    }
    c2 = (wide * wide).sum(axis=1)
    for r in sample.collect():
        v = np.asarray([float(x) for x in r.embedding])
        want = int(np.argmin(c2 - 2.0 * (wide @ v)))
        assert got[r.vec_id] == want, r.vec_id


def test_assign_cells_broadcast_single_slot_reuse(spark, sf_dir, monkeypatch):
    """Repeated assignments with the SAME centroids reuse one broadcast
    (serve loops must not leak one handle per call); a different matrix
    evicts (unpersists) the previous slot."""
    import numpy as np

    monkeypatch.setattr(SIM, "ASSIGN_EXPR_MAX_CELLS", 4)
    monkeypatch.setattr(SIM, "ASSIGN_BROADCAST_MIN_CELLS", 8)
    emb = load_table(spark, sf_dir, "embeddings").limit(20)
    cents = [
        [float(x) for x in r.embedding]
        for r in emb.orderBy("vec_id").limit(8).collect()
    ]
    SIM.assign_cells(emb, cents, "embedding", "vec_id").collect()
    first = SIM._CENTROID_BC[0]
    assert first is not None
    SIM.assign_cells(emb, cents, "embedding", "vec_id").collect()
    assert SIM._CENTROID_BC[0][1] is first[1], "same matrix must reuse the slot"
    other = (np.asarray(cents) + 1.0).tolist()
    SIM.assign_cells(emb, other, "embedding", "vec_id").collect()
    assert SIM._CENTROID_BC[0][1] is not first[1], "new matrix must take the slot"
