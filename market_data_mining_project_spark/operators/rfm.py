"""RFM customer segmentation (SURVEY.md §2.9 M5; reference
``Website/market/dunnhumby/analytics.py:187-328``).

Reference lifecycle: SQL GROUP BY per household → pandas ``qcut`` quintiles →
per-row Python ``assign_segment`` cascade → row-by-row DB writes. Spark-first
this is ONE lazy plan: hash aggregate → quantile scoring → native
``when``-chain — no driver-side loop, writable with a single
``write.mode('overwrite')``.

Quantile scoring has three implementations:

- :func:`ntile_scores_histogram` — the SHIPPED exact path: NTILE(5) with
  the deterministic tiebreaker, decomposed into a counting-histogram rank
  walk + a metric-value-partitioned tiebreak window — bit-identical scores
  to the window NTILE with no single-task sort over the customer frame.
- :func:`ntile_scores` — the same semantics as one global-order window
  (mirrors the reference's ``rank(method='first')`` tie handling,
  analytics.py:224). NTILE without PARTITION BY is a single-partition
  global sort — kept as the any-metric fallback and the parity pin.
- :func:`quantile_edge_scores` — value-edge buckets à la ``pd.qcut``:
  4 quantile edges per metric (GK sketch, or exact interpolated
  percentiles), score by comparison against broadcast edges. Different
  (value-bucket) semantics, fully parallel, also shipped (``*_q``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from market_data_mining_project_spark.functions.expressions import money, safe_ratio

#: The reference's 11-way segment cascade (analytics.py:243-290), order matters.
#: Each entry: (condition over (r, f, m) Columns, label). "Can't Lose Them" is
#: unreachable after "At Risk" in the reference too — kept for parity.
SEGMENT_RULES = [
    (lambda r, f, m: (r >= 4) & (f >= 4) & (m >= 4), "Champions"),
    (lambda r, f, m: (f >= 4) & (m >= 3), "Loyal Customers"),
    (lambda r, f, m: (r >= 4) & (f >= 3), "Potential Loyalists"),
    (lambda r, f, m: (r >= 4) & (f <= 2), "New Customers"),
    (lambda r, f, m: m >= 4, "Big Spenders"),
    (lambda r, f, m: (f >= 3) & (r >= 3), "Regular Customers"),
    (lambda r, f, m: (r <= 2) & (f >= 3) & (m >= 3), "Need Attention"),
    (lambda r, f, m: (r <= 2) & (f >= 2) & (m >= 2), "At Risk"),
    (lambda r, f, m: (r <= 2) & (f >= 4) & (m >= 4), "Can't Lose Them"),
    (lambda r, f, m: r <= 2, "Hibernating"),
]


def segment_expr(r: Column, f: Column, m: Column) -> Column:
    """The 11-way cascade as a native when-chain (no UDF; replaces the
    reference's per-row ``assign_segment``, analytics.py:243-290)."""
    expr = None
    for cond_fn, label in SEGMENT_RULES:
        cond = cond_fn(r, f, m)
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    return expr.otherwise("Lost")


def rfm_base(fact: DataFrame, customer: str, basket: str, day: str, sales: str) -> DataFrame:
    """Per-customer R/F/M raw metrics (A5; analytics.py:198-210).

    recency = max(day) over all customers − customer's max(day); computed
    without a second scan via a scalar subquery-free window-less max (a tiny
    2-stage agg: global max is broadcast as a 1-row cross join).
    """
    per_cust = fact.groupBy(customer).agg(
        F.max(day).alias("last_transaction_day"),
        F.countDistinct(basket).alias("frequency"),
        F.sum(money(sales)).cast("double").alias("monetary"),
    )
    global_max = per_cust.agg(F.max("last_transaction_day").alias("__max_day"))
    return per_cust.crossJoin(F.broadcast(global_max)).withColumn(
        "recency", F.col("__max_day") - F.col("last_transaction_day")
    ).drop("__max_day")


def ntile_scores(rfm: DataFrame, customer: str, quantiles: int = 5) -> DataFrame:
    """Exact quintile scores with deterministic tiebreakers.

    R: low recency → high score (label order [5..1], analytics.py:223);
    F/M: high value → high score. Single-partition window — kept as the
    any-metric fallback; the pipeline ships
    :func:`ntile_scores_histogram` (same scores, distributed).
    """
    tiebreak = F.col(customer).asc()
    # unpartitioned windows over the per-customer RFM frame — single-task
    # by design in this FALLBACK; the shipped pipeline path is
    # ntile_scores_histogram (no data-sized single partition)
    w_r = Window.orderBy(F.col("recency").asc(), tiebreak)
    w_f = Window.orderBy(F.col("frequency").asc(), tiebreak)
    w_m = Window.orderBy(F.col("monetary").asc(), tiebreak)
    return (
        rfm.withColumn("recency_score", (quantiles + 1 - F.ntile(quantiles).over(w_r)).cast("int"))
        .withColumn("frequency_score", F.ntile(quantiles).over(w_f).cast("int"))
        .withColumn("monetary_score", F.ntile(quantiles).over(w_m).cast("int"))
    )


def ntile_scores_histogram(rfm: DataFrame, customer: str, quantiles: int = 5) -> DataFrame:
    """Exact quintile scores, DISTRIBUTED — bit-identical to
    :func:`ntile_scores` (same ``ORDER BY metric ASC, customer ASC`` rank,
    same NTILE bucket arithmetic) with no single-task sort over the
    customer frame: each metric's base rank comes from a counting-histogram
    walk (the :func:`...operators.sketches.value_histogram` merge move) and
    the tiebreak from a window PARTITIONED by the metric value
    (see :func:`...operators.relational.ntile_score_histogram`).

    The R/F/M metrics are histogram-bounded by construction: recency is
    integer days (≤ calendar span), frequency integer basket counts,
    monetary a 2dp money value whose distinct count is ≤ |customers| and
    in practice ≪ it — so every walk frame is a small summary, never the
    data."""
    from market_data_mining_project_spark.operators.relational import ntile_score_histogram

    # hist_from=rfm on every link: all three histogram walks aggregate the
    # SAME upstream subtree, so ReuseExchange computes the per-customer
    # metric aggregate once — chained histograms would each re-run it
    scored = ntile_score_histogram(rfm, "recency", quantiles, "__r_tile", customer)
    scored = ntile_score_histogram(
        scored, "frequency", quantiles, "frequency_score", customer, hist_from=rfm
    )
    scored = ntile_score_histogram(
        scored, "monetary", quantiles, "monetary_score", customer, hist_from=rfm
    )
    return scored.withColumn(
        "recency_score", (F.lit(quantiles + 1) - F.col("__r_tile")).cast("int")
    ).drop("__r_tile")


def ntile_scores_histogram_multi(
    rfm: DataFrame, customer: str, quantiles: int = 5
) -> DataFrame:
    """All three R/F/M quintile scores in ONE unpivoted histogram pass —
    bit-identical scores to :func:`ntile_scores_histogram` (same
    rank = base + within-value row_number decomposition, same SQL NTILE
    bucket arithmetic, same ``customer ASC`` tiebreak), with the three
    per-metric passes folded together (guide §2.4 — share exchanges):

    - the metrics ``stack`` to (metric, value) rows, so ONE hash aggregate
      builds all three counting histograms and ONE window partitioned by
      (metric, value) assigns all three within-value tiebreak ranks, where
      the chained form paid a histogram aggregate + walk window + join-back
      + within-value window PER metric;
    - scores pivot back over one groupBy(customer) and re-attach with a
      null-safe equi-join (sf0.1 plan: 13 shuffle exchanges → 7, stages
      28 → 17 for rfm_segments).

    Preconditions, stated honestly: ``customer`` is unique per row (the
    :func:`rfm_base` output contract — scores re-attach by join instead of
    in-place windows) and the metrics are long/double with |value| < 2^53
    (days, basket counts, money: always), so the unifying CAST to DOUBLE
    is order- and equality-preserving and every histogram group/rank is
    identical to the per-metric native-type walk."""
    cols = ("recency", "frequency", "monetary")
    stack_expr = (
        f"stack({len(cols)}, "
        + ", ".join(f"'{c}', CAST({c} AS DOUBLE)" for c in cols)
        + ") AS (__m, __v)"
    )
    stacked = rfm.select(F.col(customer).alias("__cust"), F.expr(stack_expr))
    hist = stacked.groupBy("__m", "__v").agg(F.count(F.lit(1)).alias("__cnt"))
    # windows over the HISTOGRAM only (≤ Σ|distinct metric values| narrow
    # rows, never the data frame) — the ntile_score_histogram bound
    w_cum = (
        Window.partitionBy("__m")
        .orderBy(F.col("__v").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("__m").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    walk = hist.select(
        F.col("__m").alias("__wm"),
        F.col("__v").alias("__wv"),
        (F.sum("__cnt").over(w_cum) - F.col("__cnt")).alias("__base"),
        F.sum("__cnt").over(w_all).alias("__n"),
    )
    w_in = Window.partitionBy("__m", "__v").orderBy(F.col("__cust").asc())
    # inner join is complete by construction (walk is an aggregate of the
    # SAME stacked frame — no hist_from contract to guard); eqNullSafe so a
    # NULL metric value reaches its walk row like the chained form
    ranked = stacked.withColumn("__rn", F.row_number().over(w_in)).join(
        walk,
        (F.col("__m") == F.col("__wm")) & F.col("__v").eqNullSafe(F.col("__wv")),
    )
    r = F.col("__base") + F.col("__rn").cast("long")
    total = F.col("__n").cast("long")
    q = F.lit(int(quantiles)).cast("long")

    def idiv(x: Column, y: Column) -> Column:
        # exact long floor-division (ntile_score_histogram's idiv, verbatim)
        return ((x - x % y) / y).cast("long")

    b = idiv(total, q)
    rem = total % q
    threshold = rem * (b + 1)
    tile = (
        F.when(r <= threshold, idiv(r - 1, b + 1) + 1)
        .otherwise(rem + idiv(r - threshold - 1, F.greatest(b, F.lit(1))) + 1)
        .cast("int")
    )
    scores = (
        ranked.withColumn("__tile", tile)
        .groupBy("__cust")
        .agg(
            F.max(F.when(F.col("__m") == "recency", F.col("__tile"))).alias("__r_tile"),
            F.max(F.when(F.col("__m") == "frequency", F.col("__tile"))).alias(
                "frequency_score"
            ),
            F.max(F.when(F.col("__m") == "monetary", F.col("__tile"))).alias(
                "monetary_score"
            ),
        )
    )
    out = rfm.join(scores, F.col(customer).eqNullSafe(F.col("__cust"))).drop("__cust")
    return out.withColumn(
        "recency_score", (F.lit(quantiles + 1) - F.col("__r_tile")).cast("int")
    ).drop("__r_tile")


def quantile_edge_scores(
    rfm: DataFrame, quantiles: int = 5, relative_error: float = 1e-4,
    exact: bool = False, out_suffix: str = "",
) -> DataFrame:
    """Scale path: score by comparison against quantile edges — no global
    sort, no single-partition window; fully parallel scoring. This is how
    the operator survives 10^9 customers.

    ``exact=False`` (default): approxQuantile (Greenwald–Khanna sketch,
    merged across partitions) — one pass for all 3×(q−1) edges.
    ``exact=True``: linearly interpolated percentiles (``F.percentile``,
    numpy/pd.qcut 'linear' semantics = SQL quantile_cont), the oracle-able
    variant. Edges are rounded to 4dp before comparison so the bucket
    boundaries are stable across engines' interpolation arithmetic.
    ``out_suffix`` renames the three score columns (e.g. '_q' to coexist
    with the NTILE scores)."""
    probs = [i / quantiles for i in range(1, quantiles)]
    cols = ("recency", "frequency", "monetary")
    s = out_suffix

    if exact:
        # fully lazy: one-row edge frame broadcast-cross-joined in — no
        # eager collect at query-CONSTRUCTION time. The rfm subtree still
        # appears twice in the final plan (edge agg + probe side); callers
        # with an expensive upstream should cache it before scoring.
        edge_row = rfm.agg(
            *[
                F.round(F.percentile(F.col(c).cast("double"), p), 4).alias(f"__e_{c}_{i}")
                for c in cols
                for i, p in enumerate(probs)
            ]
        )
        df = rfm.crossJoin(F.broadcast(edge_row))

        def score_exact(col: str, invert: bool) -> Column:
            raw: Column = F.lit(1)
            for i in range(len(probs)):
                raw = raw + (F.col(col) > F.col(f"__e_{col}_{i}")).cast("int")
            return (F.lit(quantiles + 1) - raw).cast("int") if invert else raw.cast("int")

        return (
            df.withColumn(f"recency_score{s}", score_exact("recency", invert=True))
            .withColumn(f"frequency_score{s}", score_exact("frequency", invert=False))
            .withColumn(f"monetary_score{s}", score_exact("monetary", invert=False))
            .drop(*[f"__e_{c}_{i}" for c in cols for i in range(len(probs))])
        )

    # ONE approxQuantile call for all columns — the list form computes every
    # edge in a single pass (per-column calls would each re-run the whole
    # upstream rfm aggregate, 3× the promised cost)
    edges = dict(zip(cols, rfm.approxQuantile(list(cols), probs, relative_error)))

    def score(col: str, invert: bool) -> Column:
        expr = None
        for i, edge in enumerate(edges[col]):
            bucket = i + 1
            cond = F.col(col) <= edge
            expr = F.when(cond, bucket) if expr is None else expr.when(cond, bucket)
        # NULL metric → NULL score, like the exact path (1 + NULL = NULL)
        # and unlike the bare otherwise(), where every `col <= edge` is NULL
        # and the chain fell through to the TOP bucket — an all-NULL-sales
        # customer must not come back labeled a Big Spender
        out = F.when(F.col(col).isNull(), F.lit(None).cast("int")).otherwise(
            expr.otherwise(quantiles)
        )
        return ((quantiles + 1) - out).cast("int") if invert else out.cast("int")

    return (
        rfm.withColumn(f"recency_score{s}", score("recency", invert=True))
        .withColumn(f"frequency_score{s}", score("frequency", invert=False))
        .withColumn(f"monetary_score{s}", score("monetary", invert=False))
    )


def segment(scored: DataFrame) -> DataFrame:
    """Attach ``rfm_segment`` + ``avg_basket_value`` (analytics.py:294-313)."""
    r, f, m = F.col("recency_score"), F.col("frequency_score"), F.col("monetary_score")
    return scored.withColumn("rfm_segment", segment_expr(r, f, m)).withColumn(
        "avg_basket_value",
        F.round(safe_ratio(F.col("monetary"), F.col("frequency")), 6).cast("double"),
    )


def rfm_pipeline(
    fact: DataFrame,
    customer: str,
    basket: str,
    day: str,
    sales: str,
    exact: bool = True,
) -> DataFrame:
    """End-to-end M5: metrics → scores → segments, one lazy plan.

    The exact path ships the DISTRIBUTED histogram NTILE (identical scores
    to the window NTILE, pytest-pinned; no global single-task sort), in its
    one-pass multi-metric form (r14: one stacked histogram walk instead of
    three chained per-metric walks — scores pinned identical)."""
    base = rfm_base(fact, customer, basket, day, sales)
    scored = (
        ntile_scores_histogram_multi(base, customer)
        if exact
        else quantile_edge_scores(base)
    )
    return segment(scored)
