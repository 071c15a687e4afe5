"""Similarity search over embedding columns (array<float>).

Two paths, both pure DataFrame ops:

- :func:`cosine_topk` — brute-force exact top-k: query set × corpus join with
  a JVM-side dot product (``F.aggregate``/``zip_with`` — no Python UDF). For
  Q queries over N vectors this is O(Q·N·d) FLOPs spread across executors;
  the per-query top-k is a groupBy window, not a global sort. The baseline.
- :func:`lsh_topk` — the scale path: random-hyperplane (sign) LSH buckets
  vectors; queries only compare within matching buckets across T tables.
  Recall tunable by (bits, tables): more bits → smaller buckets but lower
  per-table recall. For weak-similarity corpora (top-k cos ≲ 0.4) use few
  bits + many tables (e.g. 4/16); for near-dup search 8/4 suffices.
  Candidate verification is exact cosine.

Norms are precomputed once per side. All arithmetic is double (cast from
float once) for deterministic, engine-portable results.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import truncate_lineage


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product — deterministic order, JVM codegen.

    A fixed-width UNROLLED variant (64 chained ``F.get`` multiply-adds via
    ``reduce(operator.add)``) was tried in r13 and REVERTED on measurement:
    the 64-deep left-leaning expression tree cost ~1.5–2.5 s of
    driver-side analysis/codegen per novel plan (single-shot entry wall
     5.9 → 3.7 s with the fold) and did not even win executor time on the
    real entries (ivf_topk verification stage 8.6 s unrolled vs 7.2 s
    fold — a 64-term codegen'd add chain defeats JIT inlining). The fold
    keeps plans small; at widths where per-element cost truly dominates,
    the Arrow/numpy batch paths in this module are the scale shape.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    """L2 norm — same sequential fold contract as :func:`dot`."""
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
) -> DataFrame:
    """Exact brute-force cosine top-k for each query vector.

    ``queries`` is broadcast (typically small); the corpus is scanned once.
    Returns (query_id, neighbor_id, cos) with deterministic tie-breaking on
    neighbor id.

    PRECONDITION (shared by :func:`ivf_topk` / :func:`lsh_topk`): query
    ids live in the CORPUS id space — an equal id means "the same vector",
    and that self pair is excluded. Queries from a separate id space must
    be re-keyed first (an accidental id collision would silently drop a
    legitimate neighbor). Norms are computed once per row per side BEFORE
    the pair join — cosine() per pair folds both arrays 3×.

    Zero-norm vectors are DROPPED on both sides (cosine undefined; under
    ANSI mode the 0/0 would abort the whole query) — shared with
    :func:`ivf_topk` / :func:`lsh_topk` and the near-dup pair operators.
    """
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            _as_double(F.col(vec_col)).alias("qv"),
        )
        .withColumn("__qn", norm(F.col("qv")))
        .filter(F.col("__qn") > 0)
    )
    c = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            _as_double(F.col(vec_col)).alias("cv"),
        )
        .withColumn("__cn", norm(F.col("cv")))
        .filter(F.col("__cn") > 0)
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("cv")) / (F.col("__qn") * F.col("__cn")),
                6,
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def _hyperplanes(dim: int, bits: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG — no numpy dependency in
    the plan; tiny driver-side constant folded into the expressions)."""
    state = seed & 0x7FFFFFFF
    planes: list[list[float]] = []
    for _ in range(bits):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (1 << 31)
            row.append((state / float(1 << 31)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def cosine_near_dups(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (exact, all-pairs).

    The brute-force O(N²) baseline — correct at any threshold, viable to
    ~10⁵ vectors. At 100 TB prune candidates first with :func:`lsh_topk`
    buckets or :func:`ivf_assign` cells and verify survivors with this exact
    cosine (the same candidates-then-verify shape as MinHash dedup).
    Returns (id_a, id_b, cos) with id_a < id_b.

    Zero-norm vectors are DROPPED up front (cosine undefined): under ANSI
    mode the 0/0 division would ABORT the whole query, and under non-ANSI
    Spark's total order puts the resulting NaN above every double, so
    ``cos >= threshold`` would ADMIT undefined pairs — while the blocked
    path's numpy ``admit`` (IEEE: NaN >= x is False) drops them. The
    explicit norm filter makes both paths agree on the one input class
    where blocked == naive could break.
    """
    # precompute each side's norm ONCE per row — computing cosine() inside
    # the pair loop folds both arrays 3× per pair instead of 1×
    base = (
        corpus.select(F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v"))
        .withColumn("n", norm(F.col("v")))
        .filter(F.col("n") > 0)
    )
    a = base.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("n").alias("na"))
    b = base.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("n").alias("nb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def cosine_near_dups_blocked(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    n_blocks: int = 16,
    within_col: str | None = None,
) -> DataFrame:
    """Blocked all-pairs cosine near-dups — the scale path for exact O(N²).

    Vectors are hash-assigned to ``n_blocks`` blocks; each unordered block
    pair becomes one ``applyInPandas`` group that computes a dense
    numpy matmul (BLAS) over its two blocks. Each vector is replicated
    ``n_blocks`` times instead of N times (the naive crossJoin), so Arrow
    transfer is O(N·B) rows and the FLOPs run vectorized. Equivalent output
    to :func:`cosine_near_dups` for INTEGER id columns (enforced — the
    numpy pair matrices are int64; non-integer ids take the naive path or
    a long mapping first).

    ``within_col`` (optional) restricts pairs to rows sharing that column's
    value — the partition key joins the block-pair grouping, so a corpus
    pre-partitioned into k cells pays ~N²/k FLOPs instead of N²
    (:func:`semantic_dedup` passes the KMeans cell here).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    id_type = corpus.schema[id_col].dataType.simpleString()
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"cosine_near_dups_blocked: {id_col!r} is {id_type}; the blocked "
            "path emits int64 ids (the numpy pair matrices are integer-"
            "typed) — use cosine_near_dups for non-integer id columns or "
            "map ids to longs first"
        )
    spark = corpus.sparkSession
    keep_extra = [within_col] if within_col else []
    base = corpus.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v"), *keep_extra
    ).withColumn("b", F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(n_blocks)))
    pairs = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)], ["bi", "bj"]
    )
    left = base.join(F.broadcast(pairs), base["b"] == pairs["bi"]).select(
        "bi", "bj", "id", "v", F.lit("L").alias("side"), *keep_extra
    )
    right = base.join(F.broadcast(pairs), base["b"] == pairs["bj"]).select(
        "bi", "bj", "id", "v", F.lit("R").alias("side"), *keep_extra
    )
    both = left.unionByName(right)

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cos", T.DoubleType()),
        ]
    )

    def _fold_rows(a: "np.ndarray", b: "np.ndarray") -> "np.ndarray":
        # STRICT left fold per row, bit-identical to the JVM `dot`/`norm`
        # expressions (F.aggregate) the naive path and the SQL oracles use:
        # the loop runs over DIMENSIONS (vectorized across rows), so each
        # row's accumulator sees exactly the scalar fold's add order and
        # IEEE determinism makes blocked == naive EXACTLY — at numpy speed
        # (dim iterations of elementwise ops, not pairs × dim Python).
        # BLAS matmul (blocked/FMA summation) can differ in the last ulp,
        # which flips ROUND(...,6) at a rounding midpoint — matmul is the
        # O(N²) candidate FILTER (with an epsilon admission margin), never
        # the emitted value.
        acc = np.zeros(a.shape[0], dtype="float64")
        for d in range(a.shape[1]):
            acc = acc + a[:, d] * b[:, d]
        return acc

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        lhs = pdf[pdf["side"] == "L"]
        rhs = pdf[pdf["side"] == "R"]
        if lhs.empty or rhs.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos": "float64"}
            )
        ml = np.stack(lhs["v"].values)
        mr = np.stack(rhs["v"].values)
        ml_n = ml / np.linalg.norm(ml, axis=1, keepdims=True)
        mr_n = mr / np.linalg.norm(mr, axis=1, keepdims=True)
        sims = ml_n @ mr_n.T
        ia = lhs["id"].values[:, None].repeat(len(rhs), axis=1)
        ib = rhs["id"].values[None, :].repeat(len(lhs), axis=0)
        diagonal = pdf["bi"].iat[0] == pdf["bj"].iat[0]
        admit = sims >= threshold - 1e-6  # margin: candidates, not verdicts
        if diagonal:
            # same block on both sides: every ordered pair appears — keep a<b
            mask = (ia < ib) & admit
        else:
            # cross block: each unordered pair appears exactly once, with
            # arbitrary id order — normalize to (min, max) instead of filtering
            mask = admit
        li, ri = np.nonzero(mask)
        nl = np.sqrt(_fold_rows(ml, ml))
        nr = np.sqrt(_fold_rows(mr, mr))
        cos = _fold_rows(ml[li], mr[ri]) / (nl[li] * nr[ri])
        id_a, id_b = ia[mask], ib[mask]
        lo = np.minimum(id_a, id_b)
        hi = np.maximum(id_a, id_b)
        return pd.DataFrame(
            {
                "id_a": lo.astype("int64"),
                "id_b": hi.astype("int64"),
                "cos": cos.astype("float64"),
            }
        )

    group_cols = ([within_col] if within_col else []) + ["bi", "bj"]
    cand = both.groupBy(*group_cols).applyInPandas(block_pairs, schema=out_schema)
    # final rounding + threshold verdict JVM-side, the SAME F.round the
    # naive path applies — the margin-admitted extras fall out here
    return cand.select(
        "id_a", "id_b", F.round(F.col("cos"), 6).alias("cos")
    ).filter(F.col("cos") >= threshold)


class CentroidModel:
    """Centroid-only stand-in for a fitted KMeans model — what every
    consumer here actually needs (``clusterCenters()``); JSON-serializable
    for the load-or-fit centroid cache."""

    def __init__(self, centers: list[list[float]]):
        self._centers = centers

    def clusterCenters(self) -> list[list[float]]:
        return self._centers


#: Above this many centroids, :func:`assign_cells` switches from the
#: unrolled-expression path to one Arrow matmul: per-centroid struct
#: expressions won't compile at real IVF widths (10⁴–10⁵ cells), while the
#: matmul is one pass whatever k is.
ASSIGN_EXPR_MAX_CELLS = 32

#: At/above this many centroids the matmul path ships the centroid matrix
#: as an explicit ``SparkContext.broadcast`` variable instead of a closure
#: constant: a closure serializes into EVERY pickled task, while a
#: broadcast transfers once per executor over the torrent protocol — the
#: difference between ~MB-scale task descriptions and a one-time shipment
#: at real IVF widths (10⁴–10⁵ cells × 10²–10³ dims of float64).
ASSIGN_BROADCAST_MIN_CELLS = 1024

#: single-slot broadcast cache: (content fingerprint, broadcast handle).
#: Repeated assign_cells calls with the SAME centroids (serve loops, the
#: common case) reuse one broadcast instead of leaking one per call; a
#: DIFFERENT matrix unpersists the previous executor copies (unpersist,
#: not destroy — a still-pending lazy plan from an earlier call can
#: lawfully re-fetch from the driver) so a long-lived session holds at
#: most one matrix executor-side.
_CENTROID_BC: list = [None]


def _centroid_broadcast(sc, cmat):
    import hashlib

    import numpy as np

    # the fingerprint includes the CONTEXT identity: a broadcast from a
    # stopped SparkContext would fail at execution ("Failed to get
    # broadcast"), so a session restart must re-broadcast, not reuse
    fp = (
        sc.applicationId,
        cmat.shape,
        hashlib.md5(np.ascontiguousarray(cmat).tobytes()).hexdigest(),
    )
    slot = _CENTROID_BC[0]
    if slot is not None and slot[0] == fp:
        return slot[1]
    if slot is not None:
        try:
            slot[1].unpersist()
        except Exception:
            pass  # a torn-down context must not block the new broadcast
    bc = sc.broadcast(cmat)
    _CENTROID_BC[0] = (fp, bc)
    return bc


def assign_cells(
    corpus: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Nearest-centroid assignment (squared Euclidean argmin, ties to the
    lowest cell index). One scan, one map — no MLlib transform, so
    assignment is identical whether centroids came from a fresh fit or the
    cache.

    Two physical paths with the same semantics, picked by centroid count:

    - ``k ≤ ASSIGN_EXPR_MAX_CELLS``: pure column expressions — per-centroid
      distance structs reduced by ``array_min`` (struct-min tie-breaks to
      the lowest cell). All-JVM, zero Python, ideal for the handful-of-cells
      profiles the catalog runs.
    - larger ``k``: ONE Arrow-batched matmul — ``argmin(|c|² − 2·X·Cᵀ)``
      over the stacked batch (the ``lsh_topk`` machinery), since an
      expression per centroid would not compile at 10⁴–10⁵ cells. The
      |x|² term is constant per row and dropped; ``np.argmin`` returns the
      FIRST minimum, matching the struct-min tie rule. Below
      ``ASSIGN_BROADCAST_MIN_CELLS`` the centroid matrix rides as a
      closure constant (cheap at ~10³×10³ doubles); at/above it the
      matrix ships as an explicit ``SparkContext.broadcast`` variable —
      one torrent transfer per executor instead of a copy inside every
      serialized task — so 10⁴–10⁵-cell deployments are first-class, not
      a documented residual. Identical math on both (pytest-pinned).

    The two paths may disagree only on exact distance TIES broken
    differently by float summation order (fold vs BLAS) — measure-zero for
    real embeddings; the equivalence is pytest-pinned on the fixture.
    """
    # keep_cols ride the scan so consumers that need another column
    # (cluster_profile's label) don't pay a corpus-sized join-back to
    # recover what the projection dropped
    collisions = {"cell", vec_col, id_col} & set(keep_cols)
    if collisions:
        # id_col included: a keep_cols duplicate of the id would emit two
        # same-named output columns that only fail at the consumer's first
        # ambiguous reference — the exact deferred failure this guard exists
        # to surface at the call site instead
        raise ValueError(
            f"keep_cols {keep_cols!r} collide with output columns {sorted(collisions)!r}"
        )
    keeps = [F.col(c) for c in keep_cols]
    base = corpus.select(F.col(id_col), _as_double(F.col(vec_col)).alias("__v"), *keeps)
    if len(centroids) <= ASSIGN_EXPR_MAX_CELLS:
        entries = []
        for i, c in enumerate(centroids):
            cvec = F.array(*[F.lit(float(x)) for x in c])
            d = F.aggregate(
                F.zip_with(F.col("__v"), cvec, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            entries.append(F.struct(d.alias("d"), F.lit(i).alias("cell")))
        best = F.array_min(F.array(*entries))
        return base.select(
            id_col, F.col("__v").alias(vec_col), best["cell"].alias("cell"), *keep_cols
        )

    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    cmat = np.asarray(centroids, dtype="float64")  # (k, dim)

    # ONE scoring closure for both shipping modes — the matrix source is
    # the only difference, so it rides a provider lambda (the broadcast
    # branch's lambda captures ONLY the broadcast handle; the closure
    # branch's captures only the matrix). |c|² is computed once per
    # Python worker via an id-keyed memo (bc.value returns one cached
    # object per worker), not once per Arrow batch.
    if len(centroids) >= ASSIGN_BROADCAST_MIN_CELLS:
        bc = _centroid_broadcast(base.sparkSession.sparkContext, cmat)
        get_mat = lambda: bc.value  # noqa: E731
    else:
        get_mat = lambda: cmat  # noqa: E731
    c2_memo: dict = {}

    def _nearest(vecs):
        cm = get_mat()
        c2 = c2_memo.get(id(cm))
        if c2 is None:
            c2 = c2_memo[id(cm)] = (cm * cm).sum(axis=1)
        m = np.stack(vecs.to_numpy()).astype("float64")  # (batch, dim)
        scores = c2[None, :] - 2.0 * (m @ cm.T)  # ∝ squared distance
        return pd.Series(np.argmin(scores, axis=1).astype("int32"))

    # real class annotations: the module-wide `from __future__ import
    # annotations` stringifies inline hints (same note as lsh_topk)
    _nearest.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    nearest = pandas_udf(_nearest, "int")
    return base.select(
        id_col, F.col("__v").alias(vec_col), nearest(F.col("__v")).alias("cell"), *keep_cols
    )


def ivf_assign(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    seed: int = 42,
    max_iter: int = 20,
    cache_version: str | None = None,
    keep_cols: tuple[str, ...] = (),
) -> tuple[DataFrame, CentroidModel]:
    """IVF coarse quantizer: KMeans centroids; each vector assigned to its
    nearest cell. Returns (assigned corpus with ``cell`` column, centroid
    model).

    The inverted-file structure: at query time only ``nprobe`` cells are
    scanned instead of the whole corpus.

    ``cache_version`` (a ``ml.persistence.data_version`` fingerprint)
    enables load-or-fit for the centroids — the k×dim table is the whole
    trained state of the quantizer, so a second session skips the Lloyd
    iterations entirely (the same serving contract the classifier models
    get from ``load_or_train``). Assignment ALWAYS runs through
    :func:`assign_cells`, so fit-path and cache-path assignments are
    bit-identical.
    """
    from market_data_mining_project_spark.ml import persistence as PERSIST

    def fit() -> dict:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        featurized = corpus.select(
            _as_double(F.col(vec_col)).alias("__v")
        ).withColumn("features", array_to_vector("__v"))
        km = KMeans(
            k=n_cells, seed=seed, maxIter=max_iter,
            featuresCol="features", predictionCol="cell",
        )
        return {"centroids": [[float(x) for x in c] for c in km.fit(featurized).clusterCenters()]}

    if cache_version is None:
        centers = fit()["centroids"]
    else:
        name = f"ivf_centroids_k{n_cells}_seed{seed}_iter{max_iter}"
        centers = PERSIST.load_or_compute_metrics(name, cache_version, fit)["centroids"]
    model = CentroidModel(centers)
    return assign_cells(corpus, centers, vec_col, id_col, keep_cols=keep_cols), model


def cluster_profile(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str | None = None,
    k: int = 10,
    seed: int = 42,
    cache_version: str | None = None,
) -> DataFrame:
    """Corpus organization by embedding clustering: seeded KMeans over the
    embedding column, profiled per cluster — size, cohesion (mean cosine of
    members to their centroid), and, when ``label_col`` is given, the
    dominant label with its purity. This is the cluster-level curation view
    LLM data pipelines use for cluster-balanced sampling and for spotting
    junk clusters (low cohesion / no dominant label) worth dropping
    wholesale — the corpus-map step of SemDeDup-style semantic curation
    (Abbas et al. 2023), minus the intra-cluster pair dedup that
    ``cosine_near_dups_blocked`` already covers.

    Shape at 100 TB: MLlib KMeans is the distributed fit; the centroid
    table is k rows (broadcast join), member cosines are one JVM expression
    pass, and the profile is two hash aggregations (cluster×label, then
    cluster with max_by). Nothing driver-side except the k centroids.
    """
    # 10 Lloyd iterations: the corpus-map clusters stabilize early, and each
    # iteration is a full pass — the profile, not the last decimal of
    # inertia, is the product here
    # the label rides the assignment scan (assign_cells keep_cols) —
    # re-joining the corpus on id just to recover one projected-away
    # column was a second corpus-sized shuffle
    assigned, model = ivf_assign(
        corpus, vec_col, id_col, n_cells=k, seed=seed, max_iter=10,
        cache_version=cache_version,
        keep_cols=(label_col,) if label_col else (),
    )
    spark = corpus.sparkSession
    cent_df = F.broadcast(
        spark.createDataFrame(
            [(int(ci), [float(x) for x in c]) for ci, c in enumerate(model.clusterCenters())],
            "cell int, centroid array<double>",
        )
    )
    members = assigned.join(cent_df, "cell").withColumn(
        "__cos", cosine(F.col(vec_col), F.col("centroid"))
    )
    if label_col is None:
        return members.groupBy(F.col("cell").alias("cluster")).agg(
            F.count(F.lit(1)).alias("size"),
            F.round(F.avg("__cos"), 6).alias("cohesion"),
        )
    labeled = members.withColumnRenamed(label_col, "__label")
    per_label = labeled.groupBy("cell", "__label").agg(
        F.count(F.lit(1)).alias("__n"), F.sum("__cos").alias("__cos_sum")
    )
    return (
        per_label.groupBy(F.col("cell").alias("cluster"))
        .agg(
            F.sum("__n").alias("size"),
            F.round(F.sum("__cos_sum") / F.sum("__n"), 6).alias("cohesion"),
            F.max_by("__label", F.struct("__n", "__label")).alias("top_label"),
            F.max("__n").alias("top_label_n"),
        )
        .withColumn("purity", F.round(F.col("top_label_n") / F.col("size"), 6))
    )


def semantic_dedup(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_cells: int = 10,
    seed: int = 42,
    n_blocks: int = 4,
    max_iter: int = 10,
    cache_version: str | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by embedding —
    cluster the corpus with KMeans, find cosine-near-duplicate pairs ONLY
    within each cluster, resolve pairs into connected components, keep one
    representative (the component's min id) per group.

    This is the dedup half of the SemDeDup recipe whose corpus-map half is
    :func:`cluster_profile`: near-semantic duplicates land in the same
    KMeans cell with high probability, so restricting the exact pair search
    to cells cuts the FLOPs from N² to ~N²/k while keeping verification
    exact — the same candidates-then-verify shape as MinHash dedup, with
    the cell as the candidate generator. Within each cell the pair search
    is the blocked BLAS matmul (``cosine_near_dups_blocked(within_col=
    'cell')``), so no cell is ever materialized as all-pairs rows; the
    component resolution is the shared size-gated label-propagation
    resolver (``dedup.dup_clusters``).

    Returns one row per input vector: (id, cell, rep, keep) — ``rep`` is
    the kept representative of the vector's duplicate group (itself when
    unique), ``keep`` False marks the semantic duplicates a curation
    pipeline drops. Misses only cross-cell near-dups (the documented
    SemDeDup trade-off — raise ``n_cells`` recall by lowering k or running
    :func:`cosine_near_dups_blocked` globally when exactness matters).
    """
    from market_data_mining_project_spark.operators.dedup import dup_clusters

    assigned, _model = ivf_assign(
        corpus, vec_col, id_col, n_cells=n_cells, seed=seed, max_iter=max_iter,
        cache_version=cache_version,
    )
    # two consumers (the pair search and the final annotation join) —
    # materialize once so the KMeans transform lineage doesn't run twice
    assigned = assigned.transform(truncate_lineage)
    pairs = cosine_near_dups_blocked(
        assigned, vec_col, id_col, threshold, n_blocks, within_col="cell"
    )
    clusters = dup_clusters(
        pairs.select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    )
    ann = assigned.select(F.col(id_col), "cell").join(
        clusters.withColumnRenamed("doc", id_col), id_col, "left"
    )
    rep = F.coalesce(F.col("cluster"), F.col(id_col))
    return ann.select(
        F.col(id_col),
        "cell",
        rep.alias("rep"),
        (rep == F.col(id_col)).alias("keep"),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    cache_version: str | None = None,
) -> DataFrame:
    """IVF approximate top-k: probe the ``nprobe`` nearest cells per query,
    exact cosine within. Scans ~nprobe/n_cells of the corpus per query —
    the standard ANN recall/throughput dial (FAISS-style IVF-Flat shape).
    """
    assigned, model = ivf_assign(
        corpus, vec_col, id_col, n_cells, seed, cache_version=cache_version
    )
    centroids = [
        (int(ci), [float(x) for x in c]) for ci, c in enumerate(model.clusterCenters())
    ]
    spark = corpus.sparkSession
    cent_df = spark.createDataFrame(
        [(ci, vec) for ci, vec in centroids], ["cell", "centroid"]
    )
    q = (
        queries.select(
            F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
        )
        .withColumn("__qn", norm(F.col("qv")))  # once per query, pre-explode
        .filter(F.col("__qn") > 0)  # zero-norm drop (cosine_topk contract)
    )
    # rank cells per query by SQUARED EUCLIDEAN distance to the centroid —
    # the same metric KMeans used for membership assignment. Ranking probes
    # by cosine while cells were formed by Euclidean distance silently
    # degrades recall for unnormalized embeddings: the cell holding a
    # query's true neighbors can fall below the nprobe cut.
    sqdist = F.aggregate(
        F.zip_with(
            F.col("qv"),
            F.col("centroid").cast("array<double>"),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    qc = (
        q.crossJoin(F.broadcast(cent_df))
        .withColumn("cdist", sqdist)
        .withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.col("cdist").asc(), F.col("cell").asc())
            ),
        )
        .filter(F.col("__rk") <= nprobe)
        .select("query_id", "qv", "__qn", "cell")
    )
    # norms once per row per side (the cosine_topk precondition note
    # applies here too: query ids live in the corpus id space)
    cand = qc.join(
        assigned.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"), "cell"
        )
        .withColumn("__cn", norm(F.col("cv")))
        .filter(F.col("__cn") > 0),  # zero-norm drop (cosine_topk contract)
        "cell",
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(
            dot(F.col("qv"), F.col("cv")) / (F.col("__qn") * F.col("__cn")), 6
        ).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= k).drop("__rn")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    dim: int = 64,
    bits: int = 8,
    tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k: compare only within matching sign-LSH
    buckets across ``tables`` independent hash tables, verify with exact
    cosine. At 100 TB the bucket join replaces the full cross product with
    ~N/2^bits candidates per query per table.

    ONE corpus scan: all ``tables`` bucket ids come from a single
    Arrow-batched matmul against the stacked (tables·bits, dim) hyperplane
    matrix (vs ``tables`` scan branches each folding ``bits`` interpreted
    HOF dot products), then posexplode → hash join on (table, bucket). A
    pair colliding in several tables is admitted only at its FIRST matching
    table — a cheap probe of the two bucket arrays already on the row — so
    candidates are unique by construction: no wide dropDuplicates shuffle,
    and each candidate pays exact-cosine verification exactly once.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    planes = np.array(
        [_hyperplanes(dim, bits, seed + 1000 * t) for t in range(tables)], dtype="float64"
    ).reshape(tables * bits, dim)
    weights = 1 << np.arange(bits, dtype="int64")
    n_tables = tables

    def _bucket_ids(vecs):
        m = np.stack(vecs.to_numpy()).astype("float64")  # (batch, dim)
        if m.shape[1] != planes.shape[1]:
            # fail with the FIX in the message, not an opaque matmul
            # shape error after executor task retries
            raise ValueError(
                f"lsh_topk dim={planes.shape[1]} does not match the "
                f"embedding dimensionality {m.shape[1]}; pass "
                f"dim={m.shape[1]}"
            )
        signs = (m @ planes.T) > 0  # (batch, tables*bits)
        codes = (signs.reshape(len(vecs), n_tables, -1) * weights).sum(axis=2)
        return pd.Series(list(codes.astype("int64")))

    # real class annotations: the module-wide `from __future__ import
    # annotations` stringifies inline hints, which pandas_udf can't resolve
    # against a function-local pandas import
    _bucket_ids.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    # asNondeterministic: the optimizer otherwise duplicates the Arrow
    # crossing — one ArrowEvalPython below the pushed-down null/generate
    # filter and a second in the projection — so every vector paid the
    # matmul twice (guide §4.4 pattern; plan-verified). The function is
    # pure, the flag only pins a single evaluation.
    bucket_ids = pandas_udf(_bucket_ids, "array<long>").asNondeterministic()

    c = corpus.select(F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv"))
    q = queries.select(F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv"))
    # norms BEFORE the posexplode: once per vector, not once per table;
    # zero-norm rows dropped (cosine_topk contract — ANSI 0/0 would abort)
    cb = c.withColumn("c_bs", bucket_ids("cv")).withColumn(
        "__cn", norm(F.col("cv"))
    ).filter(F.col("__cn") > 0).select(
        "neighbor_id", "cv", "__cn", "c_bs",
        F.posexplode("c_bs").alias("tbl", "bucket"),
    )
    qb = q.withColumn("q_bs", bucket_ids("qv")).withColumn(
        "__qn", norm(F.col("qv"))
    ).filter(F.col("__qn") > 0).select(
        "query_id", "qv", "__qn", "q_bs",
        F.posexplode("q_bs").alias("tbl", "bucket"),
    )
    first_match = F.when(F.col("tbl") == 0, F.lit(True)).otherwise(
        ~F.expr("exists(sequence(0, tbl - 1), t -> c_bs[t] = q_bs[t])")
    )
    scored = (
        cb.join(F.broadcast(qb), ["tbl", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .filter(first_match)
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("cv")) / (F.col("__qn") * F.col("__cn")),
                6,
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= k).drop("__rn")
