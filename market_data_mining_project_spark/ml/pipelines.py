"""MLlib training pipelines (SURVEY.md §2.9 M8, M9).

The reference trains sklearn models on pandas frames fetched from SQL Server
(churn XGBoost: ``Website/market/dunnhumby/ml_models.py:1130-1251``;
the 4-horizon × 4-model grid: ``ml_models.py:216-596``). Spark-first, the
labeled feature frame is a DataFrame plan (operators/churn.py, the
repurchase-label semi-join) and training crosses to the JVM through one
``Pipeline.fit`` — no driver-side feature matrices.

Model mapping (SURVEY §7.4.4-7.4.5):
    XGBClassifier            → GBTClassifier (gradient-boosted trees)
    RandomForestClassifier   → RandomForestClassifier
    MLPClassifier(128,64,32) → MultilayerPerceptronClassifier
    SVC(rbf)                 → LinearSVC (RBF kernel has no MLlib equivalent;
                               the reference itself subsamples SVC to 5K rows)
    "gradient_boost" (an RF clone in the reference, ml_models.py:541)
                             → a real GBT, intent over bug-fidelity

All estimators get explicit seeds; `handleInvalid='keep'` mirrors the
reference's LabelEncoder unknown→0 fallback (ml_models.py:424-430).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark import inheritable_thread_target
from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import (
    GBTClassifier,
    LinearSVC,
    MultilayerPerceptronClassifier,
    RandomForestClassifier,
)
from pyspark.ml.evaluation import BinaryClassificationEvaluator
from pyspark.ml.feature import StandardScaler, VectorAssembler
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from market_data_mining_project_spark.session import truncate_lineage

SEED = 42


@dataclass
class TrainedModel:
    model: PipelineModel
    metrics: dict[str, float]


def _assembler(feature_cols: list[str]) -> list:
    return [
        VectorAssembler(inputCols=feature_cols, outputCol="__raw", handleInvalid="keep"),
        StandardScaler(inputCol="__raw", outputCol="features", withMean=True, withStd=True),
    ]


def _classifier(kind: str, n_features: int, label: str = "label", overrides: dict | None = None):
    common = dict(featuresCol="features", labelCol=label)
    common.update(overrides or {})
    if kind == "random_forest":
        # reference: RF(150 trees, depth 15) — ml_models.py:538-540
        return RandomForestClassifier(**{"numTrees": 150, "maxDepth": 15, "seed": SEED, **common})
    if kind == "gradient_boost":
        return GBTClassifier(**{"maxIter": 60, "maxDepth": 5, "seed": SEED, **common})
    if kind == "neural_network":
        # reference MLP hidden layers (128, 64, 32) — ml_models.py:64-69
        return MultilayerPerceptronClassifier(
            **{"layers": [n_features, 128, 64, 32, 2], "maxIter": 100, "seed": SEED, **common}
        )
    if kind == "svm":
        return LinearSVC(**{"maxIter": 50, **common})
    raise ValueError(f"unknown model kind: {kind}")


def binary_metrics(predictions: DataFrame, label: str = "label") -> dict[str, float]:
    """AUC via the ranking evaluator, plus accuracy / weightedPrecision /
    weightedRecall / f1 derived from ONE confusion-matrix aggregation.

    The four multiclass metrics are pure functions of the (label, prediction)
    count matrix — running MulticlassClassificationEvaluator once per metric
    re-scans the predictions four times (80 Spark jobs across the 16-cell M9
    grid). One groupBy + driver-side arithmetic (the matrix is #classes²
    cells) is job-for-job identical in result and 4× fewer passes.

    The predictions are checkpointed (``truncate_lineage``), not cached: a
    background fit (ml.fit_pool) may be evaluating while the session
    ``clearCache()``s between entries, and the two metric passes must not
    turn into full rescoring. EAGER: a lazy checkpoint measured as if
    absent — later queries re-plan from the original lineage."""
    predictions = truncate_lineage(predictions)
    out: dict[str, float] = {}
    try:
        out["auc"] = BinaryClassificationEvaluator(
            labelCol=label, metricName="areaUnderROC"
        ).evaluate(predictions)
    except Exception:  # LinearSVC rawPrediction still works; guard anyway
        pass
    cells = {
        (r["l"], r["p"]): r["n"]
        for r in predictions.groupBy(
            F.col(label).alias("l"), F.col("prediction").alias("p")
        ).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    total = sum(cells.values())
    labels = {l for l, _ in cells} | {p for _, p in cells}
    correct = sum(n for (l, p), n in cells.items() if l == p)
    w_precision = w_recall = w_f1 = 0.0
    for cls in labels:
        tp = cells.get((cls, cls), 0)
        pred_cls = sum(n for (_, p), n in cells.items() if p == cls)
        true_cls = sum(n for (l, _), n in cells.items() if l == cls)
        precision = tp / pred_cls if pred_cls else 0.0
        recall = tp / true_cls if true_cls else 0.0
        f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
        weight = true_cls / total
        w_precision += weight * precision
        w_recall += weight * recall
        w_f1 += weight * f1
    out["accuracy"] = correct / total if total else 0.0
    out["weightedPrecision"] = w_precision
    out["weightedRecall"] = w_recall
    out["f1"] = w_f1
    # the degenerate-split signal: accuracy==0.0 is ambiguous (all-wrong vs
    # no rows) — consumers gate on n_eval to tell a broken split from a
    # bad model
    out["n_eval"] = float(total)
    return out


def train_classifier(
    labeled: DataFrame,
    feature_cols: list[str],
    label_col: str,
    kind: str = "gradient_boost",
    train_fraction: float = 0.8,
    overrides: dict | None = None,
) -> TrainedModel:
    """Assemble → scale → fit one classifier; metrics on the held-out split.

    The 80/20 split uses a seeded randomSplit (the reference's stratified
    train_test_split, ml_models.py:535-536 — MLlib randomSplit is the
    distributed analogue). ``overrides`` patches estimator params (e.g.
    smaller maxIter/numTrees for test fixtures)."""
    df = labeled.withColumn("label", F.col(label_col).cast("double"))
    train, test = df.randomSplit([train_fraction, 1 - train_fraction], seed=SEED)
    stages = _assembler(feature_cols) + [_classifier(kind, len(feature_cols), overrides=overrides)]
    model = Pipeline(stages=stages).fit(train)
    metrics = binary_metrics(model.transform(test))
    return TrainedModel(model=model, metrics=metrics)


def train_model_grid(
    labeled: DataFrame,
    feature_cols: list[str],
    label_col: str,
    kinds: tuple[str, ...] = ("random_forest", "gradient_boost", "neural_network", "svm"),
    overrides: dict[str, dict] | None = None,
) -> dict[str, TrainedModel]:
    """The reference's model grid for one horizon (ml_models.py:538-567).
    ``overrides`` maps kind → estimator-param patches."""
    return {
        kind: train_classifier(
            labeled, feature_cols, label_col, kind,
            overrides=(overrides or {}).get(kind),
        )
        for kind in kinds
    }


def train_multi_horizon_grid(
    labeled: DataFrame,
    feature_cols: list[str],
    label_cols: tuple[str, ...],
    kinds: tuple[str, ...] = ("random_forest", "gradient_boost", "neural_network", "svm"),
    overrides: dict[str, dict] | None = None,
    train_fraction: float = 0.8,
    parallelism: int = 8,
) -> dict[tuple[str, str], dict[str, float]]:
    """The reference's full horizon × model-kind training sweep — the horizon
    loop (``views.py:3214-3331``) driving the 4-model grid
    (``ml_models.py:538-567``) — returning the per-model metrics surface its
    training-status API exposes (``ml_models.py:583-594``).

    The split and the feature pipeline (assemble + standardize) are computed
    ONCE on the train side and shared by every fit: the horizons differ only
    in the label column, so the scaler (fit train-side only, like the
    reference's ``StandardScaler.fit(X_train)``) would otherwise be refit
    len(label_cols)×len(kinds) times over identical features. Each grid cell
    is then a classifier-only fit on the checkpointed scaled frame.

    Grid cells are independent, so they are fitted from a thread pool
    (``parallelism``) — the same concurrent-job-submission idiom MLlib's
    CrossValidator uses. On the bounded sample each fit is scheduling-bound
    (dozens of tiny iterative jobs — the 16-cell grid schedules ~930
    stages), so overlapping them recovers most of the wall-clock; Spark's
    scheduler interleaves the jobs safely. Pool size 8 measured ~12%
    faster cold than 4 at sf0.1/local[32] (24.5 vs 27.9 s mean-of-3) and
    cannot change results — the pool only reorders independent fits over
    the same checkpointed frames.
    """
    from multiprocessing.pool import ThreadPool

    train, test = labeled.randomSplit([train_fraction, 1 - train_fraction], seed=SEED)
    prep = Pipeline(stages=_assembler(feature_cols)).fit(train)
    # checkpointed, not cached: the grid may run as a background fit while
    # the session clearCache()s between entries, and a dropped cache would
    # re-run the scaled feature plan per fit per iteration
    train_t = truncate_lineage(prep.transform(train))
    test_t = truncate_lineage(prep.transform(test))

    def fit_cell(label_col: str, kind: str) -> dict[str, float]:
        tr = train_t.withColumn("label", F.col(label_col).cast("double"))
        te = test_t.withColumn("label", F.col(label_col).cast("double"))
        clf = _classifier(kind, len(feature_cols), overrides=(overrides or {}).get(kind))
        return binary_metrics(clf.fit(tr).transform(te))

    # Python pool threads do not inherit Spark's thread-local properties, so
    # each cell carries a copy of the caller's (background-fit label, job
    # group). One copy PER CELL: inheritable_thread_target copies once and
    # hands that same mutable copy to every thread it runs on, where
    # concurrent cells would see each other's SQL execution ids. ThreadPool,
    # not ThreadPoolExecutor: its threads are daemons, so a grid running as
    # an unconsumed background fit does not hold up process exit.
    spark = labeled.sparkSession
    cells = [(label_col, kind) for label_col in label_cols for kind in kinds]
    with ThreadPool(parallelism) as pool:
        pending = [
            pool.apply_async(inheritable_thread_target(spark)(fit_cell), cell) for cell in cells
        ]
        metrics = [p.get() for p in pending]
    return dict(zip(cells, metrics))


def train_quality_classifier(
    docs: DataFrame,
    label_col: str = "label",
    num_features: int = 1 << 12,
    train_fraction: float = 0.8,
    with_metrics: bool = True,
) -> TrainedModel:
    """Model-based quality filter — the classifier step public LLM data
    pipelines run after heuristics (GPT-3 trained LR over hashed text
    features against a reference-vs-crawl label; CCNet/LLaMA distill
    similar filters). Features: hashed term frequencies (HashingTF — the
    fixed-width, shuffle-free featurizer that scales to any vocab) plus
    the numeric profile signals; estimator: LogisticRegression, so scoring
    the full corpus is one broadcast of the coefficient vector inside a
    JVM map — no shuffle, no Python.

    ``docs`` must carry a tokens array column ``__toks``, the numeric
    signal columns listed in QUALITY_SIGNAL_COLS, and a 0/1 ``label_col``.
    Training cost is one fit on (a bounded sample of) the labeled frame;
    at 100 TB the label side is a curated reference set, so the fit input
    stays small while transform scales linearly."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import HashingTF

    df = docs.withColumn("label", F.col(label_col).cast("double"))
    # the held-out split exists only to report metrics — serving callers
    # (with_metrics=False) fit on the FULL bounded sample instead of
    # discarding a fifth of it to a test set nothing evaluates
    if with_metrics:
        train, test = df.randomSplit([train_fraction, 1 - train_fraction], seed=SEED)
    else:
        train, test = df, None
    stages = [
        HashingTF(inputCol="__toks", outputCol="__tf", numFeatures=num_features),
        VectorAssembler(
            inputCols=["__tf", *QUALITY_SIGNAL_COLS],
            outputCol="features",
            handleInvalid="keep",
        ),
        # 20 iterations: LBFGS plateaus well before that on a near-separable
        # distillation target, and each extra iteration is a full pass
        LogisticRegression(maxIter=20, regParam=0.01, featuresCol="features"),
    ]
    model = Pipeline(stages=stages).fit(train)
    # serving paths skip the held-out evaluation pass (with_metrics=False):
    # the catalog output is the scored corpus, and the AUC gate lives in
    # pytest where it belongs
    metrics = binary_metrics(model.transform(test)) if test is not None else {}
    return TrainedModel(model=model, metrics=metrics)


QUALITY_SIGNAL_COLS = [
    "n_tokens",
    "punct_ratio",
    "stopword_ratio_en",
    "top_bigram_fraction",
    "dup_token_ratio",
]


def score_with_probability(
    model: PipelineModel, df: DataFrame, out: str = "churn_probability"
) -> DataFrame:
    """predict_proba analogue: P(class=1) extracted from the probability
    vector (reference scores all customers, ml_models.py:1216-1239)."""
    from pyspark.ml.functions import vector_to_array

    scored = model.transform(df)
    if "probability" in scored.columns:
        return scored.withColumn(out, vector_to_array("probability")[1])
    # margin-only models (LinearSVC): logistic-squash the raw margin
    return scored.withColumn(
        out, 1.0 / (1.0 + F.exp(-vector_to_array("rawPrediction")[1]))
    )
