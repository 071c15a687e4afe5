"""Recommenders (SURVEY.md §2.9 M13–M14).

The reference implements user-user cosine CF with a dense pandas pivot +
sklearn ``cosine_similarity`` (``Website/market/dunnhumby/collab_filter.py:
21-114``) and a hybrid rules+CF blend (``Website/market/customers/views.py:
49-255``). Spark-first:

- :func:`cosine_cf_scores` — exact user-user cosine, expressed as joins over
  the sparse (user, item, cnt) triples: no dense pivot ever materializes.
  Similarities are computed only for the *query* users (the serving shape the
  reference has — one user per request), so the join is |Q|×|users-sharing-
  an-item|, not |users|². For all-pairs batch similarity at 100 TB use
  :func:`als_recommendations` instead (SURVEY §7.4.10).
- :func:`als_recommendations` — ``pyspark.ml.recommendation.ALS`` on implicit
  purchase counts; the scalable idiom (factorization instead of O(U²) pairs).
- :func:`hybrid_blend` — α·assoc + (1−α)·cf with per-source max-normalization
  (reference customers/views.py:131-167), purchased items excluded by
  anti-join (J10).

Every step is a shuffle on either ``item`` or ``user`` — co-partitioned and
AQE-coalesced; no collect, no Python loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from market_data_mining_project_spark.functions.expressions import safe_ratio

try:
    from pyspark.ml.recommendation import ALS

    HAS_ALS = True
except ImportError:  # pragma: no cover
    HAS_ALS = False


def user_item_counts(fact: DataFrame, user: str, item: str) -> DataFrame:
    """Purchase-count matrix in sparse triple form (collab_filter.py:33-38).

    Returns columns (user, item, cnt). One hash-agg shuffle on (user, item).
    """
    return (
        fact.select(F.col(user).alias("user"), F.col(item).alias("item"))
        .filter(F.col("item").isNotNull())
        .groupBy("user", "item")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def user_norms(ui: DataFrame) -> DataFrame:
    return ui.groupBy("user").agg(
        F.sqrt(F.sum(F.col("cnt").cast("double") * F.col("cnt"))).alias("norm")
    )


def user_similarities(ui: DataFrame, query_users: DataFrame) -> DataFrame:
    """Cosine similarity of each query user against every co-purchasing user.

    Inverted-index join on ``item`` — only user pairs that share ≥1 item are
    ever scored (the zero entries of the dense pivot never exist here).
    Returns (query_user, other_user, sim).
    """
    norms = user_norms(ui)
    q = (
        ui.join(F.broadcast(query_users.select("user")), "user")
        .select(F.col("user").alias("query_user"), "item", F.col("cnt").alias("qcnt"))
    )
    # the query side is |Q|×items — broadcast it so the big ui side never
    # shuffles for this join (serving-shaped: Q ≪ users)
    dots = (
        ui.select(F.col("user").alias("other_user"), "item", F.col("cnt").alias("ocnt"))
        .join(F.broadcast(q), "item")
        .filter(F.col("query_user") != F.col("other_user"))
        .groupBy("query_user", "other_user")
        .agg(F.sum(F.col("qcnt").cast("double") * F.col("ocnt")).alias("dot"))
    )
    # query-side norms broadcast; the other_user norm join keys on the same
    # hash partitioning the groupBy just produced. This join against the
    # full norms frame is the scale bottleneck at ~10⁸ users — the intended
    # cap is cosine_cf_scores(max_neighbors=K), which row_number-prunes the
    # neighborhood BEFORE the scoring join (the serving catalog binds the
    # capped variant; the oracled entries keep exact reference semantics)
    return (
        dots.join(
            F.broadcast(
                norms.select(F.col("user").alias("query_user"), F.col("norm").alias("qnorm"))
                .join(F.broadcast(query_users.select(F.col("user").alias("query_user"))), "query_user")
            ),
            "query_user",
        )
        .join(norms.select(F.col("user").alias("other_user"), F.col("norm").alias("onorm")), "other_user")
        .select(
            "query_user",
            "other_user",
            (F.col("dot") / (F.col("qnorm") * F.col("onorm"))).alias("sim"),
        )
    )


def cosine_cf_scores(
    fact: DataFrame,
    user: str,
    item: str,
    query_users: DataFrame,
    k: int = 5,
    min_sim: float = 0.0,
    max_neighbors: int | None = None,
    ui: DataFrame | None = None,
) -> DataFrame:
    """User-user CF recommendations (M13; collab_filter.py:21-114).

    score(u, i) = Σ over similar users v who bought i: sim(u,v) × cnt(v,i),
    excluding items u already bought (anti-join, J10). Top-k per user with
    deterministic item tie-break. Returns (user, item, score, rec_rank).

    ``max_neighbors`` caps each query user's neighborhood to its top-K most
    similar users (k-NN CF) before scoring — the reference scores against ALL
    users (fine for its 2.5K households, collab_filter.py:58-73), but the
    scoring join is |sims|×|items per neighbor|, so at 10⁸ users an uncapped
    neighborhood is the bottleneck. None = exact reference semantics.

    Pass a prebuilt ``ui`` (user, item, cnt) matrix — e.g. the materialized
    derived table shared with the hybrid/ALS paths — to skip re-aggregating
    the fact; ``fact`` is then unused and may be None.
    """
    if ui is None:
        ui = user_item_counts(fact, user, item)
    else:
        # a prebuilt ui is typically a small materialized parquet (the
        # shared derived table): a few-row-group scan arrives in ~1-3
        # partitions, which serializes the |ui|x|Q| inverted-index
        # expansion below onto as many cores (measured at sf0.1: the
        # 52M-row dots stage ran 20 s of executor time on 3 tasks — the
        # whole entry's dominant cost). Keyed on ``user`` so each task
        # holds complete users and the pair-dots partial aggregate stays
        # duplication-free (round-robin measured 4× the shuffle bytes).
        # Only under-split small scans repartition; at scale the scan is
        # many-file and this is a no-op (the bm25/lsh idiom). Aggregated
        # frames (no file lineage) pass through unchanged.
        from market_data_mining_project_spark.operators.dedup import ensure_parallelism

        ui = ensure_parallelism(ui, by=("user",))
    qu = query_users.select(F.col(query_users.columns[0]).alias("user")).distinct()
    sims = user_similarities(ui, qu).filter(F.col("sim") > min_sim)
    if max_neighbors is not None:
        nw = Window.partitionBy("query_user").orderBy(
            F.col("sim").desc(), F.col("other_user").asc()
        )
        sims = (
            sims.withColumn("__nr", F.row_number().over(nw))
            .filter(F.col("__nr") <= max_neighbors)
            .drop("__nr")
        )
    scored = (
        sims.join(
            ui.select(F.col("user").alias("other_user"), "item", "cnt"), "other_user"
        )
        .groupBy(F.col("query_user").alias("user"), "item")
        .agg(F.sum(F.col("sim") * F.col("cnt")).alias("score"))
    )
    purchased = ui.select("user", "item")
    candidates = scored.join(purchased, ["user", "item"], "left_anti")
    w = Window.partitionBy("user").orderBy(F.col("score").desc(), F.col("item").asc())
    return (
        candidates.withColumn("rec_rank", F.row_number().over(w))
        .filter(F.col("rec_rank") <= k)
        .select("user", "item", F.round("score", 6).alias("score"), "rec_rank")
    )


def als_recommendations(
    fact: DataFrame,
    user: str,
    item: str,
    k: int = 5,
    rank: int = 8,
    reg: float = 0.1,
    seed: int = 42,
    ui: DataFrame | None = None,
    max_iter: int = 10,
    cache_version: str | None = None,
) -> DataFrame:
    """Implicit-feedback ALS — the 100 TB replacement for all-pairs cosine
    (SURVEY §7.4.10: the reference's dense pivot is fine for 2.5K households,
    not for 10⁸ users). Requires integer user ids. A prebuilt ``ui`` matrix
    (user, item, cnt) skips the fact aggregation (``fact`` may then be None).

    ``cache_version``: a data-version token (``ml.persistence.data_version``)
    enabling the load-or-train model cache every other estimator here
    already rides (churn GBT, horizon MLP, quality LR — the reference's
    ``has_cached_models`` contract, ml_models.py:101-214): the fit is
    seeded and its input partitioning deterministic, so a cached factor
    model serves the IDENTICAL recommendation frame while a warm session
    skips the ~10-iteration refit that dominated every serve. ``None``
    keeps the always-refit shape (tests pin the fit path through it).

    Returns (user, item, score, rec_rank) like :func:`cosine_cf_scores`.
    """
    if not HAS_ALS:  # pragma: no cover
        raise NotImplementedError("pyspark.ml.recommendation.ALS unavailable")
    if ui is None:
        ui = user_item_counts(fact, user, item)
    # ALS iterates over the ratings many times; cache the aggregated matrix
    # and right-size partitions so the sequential iterations aren't
    # scheduling-bound on near-empty tasks. Derived from defaultParallelism
    # (not a literal): a fixed coalesce(8) would cap every ALS iteration at
    # 8-way parallelism on a billion-row user-item matrix.
    target = max(8, ui.sparkSession.sparkContext.defaultParallelism // 4)
    ui = ui.coalesce(target).cache()
    # ALS requires numeric item ids — index categorical items via a
    # range-partitioned sort + zipWithIndex: distributed AND deterministic
    # (the sort's range bounds are seeded deterministically, the offsets come
    # from one per-partition count job). A dense_rank over an unpartitioned
    # Window would funnel every distinct item through a single task —
    # harmless for brands, a wall if someone binds product ids. Cached so the
    # forward join and the map-back join see identical ids.
    numeric_items = dict(ui.dtypes)["item"] not in ("string",)
    if not numeric_items:
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        item_ids = ui.sparkSession.createDataFrame(
            ui.select("item").distinct().sort("item").rdd
            .map(lambda r: r[0])
            .zipWithIndex(),
            StructType(
                [StructField("item", StringType()), StructField("item_id", LongType())]
            ),
        ).withColumn("item_id", (F.col("item_id") + 1).cast("int")).cache()
        # no broadcast hint: AQE broadcasts while |items| is small, shuffles when not
        ui = ui.join(item_ids, "item").select(
            "user", F.col("item_id").alias("item"), "cnt", F.col("item").alias("item_label")
        )
    als = ALS(
        userCol="user",
        itemCol="item",
        ratingCol="cnt",
        implicitPrefs=True,
        rank=rank,
        regParam=reg,
        seed=seed,
        coldStartStrategy="drop",
        maxIter=max_iter,
    )
    if cache_version is not None:
        from pyspark.ml import Pipeline

        from market_data_mining_project_spark.ml import persistence as PERSIST
        from market_data_mining_project_spark.ml.pipelines import TrainedModel

        # one-stage Pipeline wrapper so the ALSModel rides the SAME
        # PipelineModel save/load surface as every other cached estimator
        pm, _metrics, _cached = PERSIST.load_or_train(
            f"als_r{rank}_i{max_iter}_s{seed}",
            cache_version,
            lambda: TrainedModel(
                model=Pipeline(stages=[als]).fit(
                    ui.withColumn("cnt", F.col("cnt").cast("float"))
                ),
                metrics={},
            ),
        )
        model = pm.stages[0]
    else:
        model = als.fit(ui.withColumn("cnt", F.col("cnt").cast("float")))
    # the fitted factors replace the ratings matrix — recommendForAllUsers
    # never reads ui, so release it instead of pinning a full user-item
    # matrix in executor storage per serve call. item_ids stays cached: the
    # map-back join below still reads it at the caller's action, it is
    # |items|-row tiny, and the cache is what GUARANTEES the forward and
    # map-back joins see identical ids.
    ui.unpersist()
    recs = model.recommendForAllUsers(k)
    out = recs.select(
        "user", F.posexplode("recommendations").alias("pos", "rec")
    ).select(
        "user",
        F.col("rec.item").alias("item"),
        F.round(F.col("rec.rating").cast("double"), 6).alias("score"),
        (F.col("pos") + 1).alias("rec_rank"),
    )
    if not numeric_items:
        out = (
            out.join(
                item_ids.withColumnRenamed("item", "item_label"),
                out["item"] == item_ids["item_id"],
            )
            .drop("item", "item_id")
            .withColumnRenamed("item_label", "item")
            .select("user", "item", "score", "rec_rank")
        )
    return out


def hybrid_blend(
    assoc_scores: DataFrame,
    cf_scores: DataFrame,
    purchased: DataFrame,
    alpha: float = 0.5,
    k: int = 5,
) -> DataFrame:
    """Hybrid recommender (M14; customers/views.py:49-183).

    Inputs carry (user, item, score). Each source is max-normalized per user
    (reference normalizes by the max score of each source, views.py:131-139),
    blended ``alpha·assoc + (1−alpha)·cf``, purchased (user, item) pairs
    removed, top-k per user. All joins key on (user, item).
    """
    a_max = Window.partitionBy("user")
    a = assoc_scores.withColumn(
        "assoc_n", safe_ratio(F.col("score"), F.max("score").over(a_max))
    ).select("user", "item", "assoc_n")
    c = cf_scores.withColumn(
        "cf_n", safe_ratio(F.col("score"), F.max("score").over(a_max))
    ).select("user", "item", "cf_n")
    blended = (
        a.join(c, ["user", "item"], "full_outer")
        .fillna({"assoc_n": 0.0, "cf_n": 0.0})
        .withColumn("hybrid", F.lit(alpha) * F.col("assoc_n") + F.lit(1 - alpha) * F.col("cf_n"))
    )
    pruned = blended.join(purchased.select("user", "item"), ["user", "item"], "left_anti")
    w = Window.partitionBy("user").orderBy(F.col("hybrid").desc(), F.col("item").asc())
    return (
        pruned.withColumn("rec_rank", F.row_number().over(w))
        .filter(F.col("rec_rank") <= k)
        .select("user", "item", F.round("hybrid", 6).alias("hybrid_score"), "rec_rank")
    )
