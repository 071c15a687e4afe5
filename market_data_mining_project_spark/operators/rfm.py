"""RFM customer segmentation (SURVEY.md §2.9 M5; reference
``Website/market/dunnhumby/analytics.py:187-328``).

Reference lifecycle: SQL GROUP BY per household → pandas ``qcut`` quintiles →
per-row Python ``assign_segment`` cascade → row-by-row DB writes. Spark-first
this is ONE lazy plan: hash aggregate → quantile scoring → native
``when``-chain — no driver-side loop, writable with a single
``write.mode('overwrite')``.

Quantile scoring has two semantics, both shipped:

- exact NTILE(5) with the deterministic ``customer ASC`` tiebreaker (the
  reference's ``rank(method='first')``, analytics.py:224):
  :func:`rfm_pipeline` scores R, F and M in ONE call of
  :func:`...operators.relational.ntile_score_histogram`, the distributed
  histogram-rank NTILE; :func:`...operators.relational.ntile_score` is its
  single-task window reference;
- :func:`quantile_edge_scores` — value-edge buckets à la ``pd.qcut``:
  4 quantile edges per metric (GK sketch, or exact interpolated
  percentiles), score by comparison against broadcast edges. Fully
  parallel (``*_q``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from market_data_mining_project_spark.functions.expressions import money, safe_ratio
from market_data_mining_project_spark.operators.relational import ntile_score_histogram

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


def rfm_pipeline(fact: DataFrame, customer: str, basket: str, day: str, sales: str) -> DataFrame:
    """End-to-end M5: metrics → scores → segments, one lazy plan.

    R, F and M are scored in one stacked histogram NTILE pass (no global
    single-task sort; the customer is the tiebreaker and is unique per
    :func:`rfm_base` row). Low recency is a high score, so R's ascending
    tile is inverted (label order [5..1], analytics.py:223)."""
    base = rfm_base(fact, customer, basket, day, sales)
    scored = ntile_score_histogram(
        base,
        {"recency": "__r_tile", "frequency": "frequency_score", "monetary": "monetary_score"},
        5,
        customer,
    )
    return segment(
        scored.withColumn("recency_score", (6 - F.col("__r_tile")).cast("int")).drop("__r_tile")
    )
