"""Domain-pipeline queries (SURVEY.md §2.9) bound to the TPC-H-ish tables.

The RFM / association-rule / basket pipelines are schema-generic; here they
bind lineitem/orders/part/customer to the roles transactions/baskets/
product/household play in the reference (FIXTURES.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from market_data_mining_project_spark.operators import rfm as RFM
from market_data_mining_project_spark.operators import rules as RULES
from market_data_mining_project_spark.operators.basket import department_mix
from market_data_mining_project_spark.sources.tables import load_table

_RFM_EPOCH = "1995-01-01"


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 end-to-end: per-customer RFM metrics → NTILE(5) scores →
    11-way segment cascade (reference analytics.py:187-328), PLUS the
    scale-path quantile-edge scores (``*_score_q``: value-edge buckets à la
    pd.qcut, exact interpolated percentiles = DuckDB quantile_cont) so both
    scoring implementations carry an oracle."""
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "order_day", F.datediff("o_orderdate", F.lit(_RFM_EPOCH).cast("date"))
    )
    segments = RFM.rfm_pipeline(
        orders, customer="o_custkey", basket="o_orderkey", day="order_day", sales="o_totalprice"
    ).cache()  # the edge aggregate re-embeds its input subtree — cache so the
    # NTILE pipeline runs once, not once per quantile cross join
    segments = RFM.quantile_edge_scores(segments, exact=True, out_suffix="_q")
    return segments.select(
        F.col("o_custkey").alias("customer"),
        "last_transaction_day",
        "recency",
        "frequency",
        F.round("monetary", 2).alias("monetary"),
        "recency_score",
        "frequency_score",
        "monetary_score",
        "recency_score_q",
        "frequency_score_q",
        "monetary_score_q",
        "rfm_segment",
        "avg_basket_value",
    )


SQL_RFM_SEGMENTS = """
WITH base AS (
  SELECT o_custkey AS customer,
         MAX(datediff('day', DATE '1995-01-01', o_orderdate)) AS last_transaction_day,
         COUNT(DISTINCT o_orderkey) AS frequency,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
  FROM orders GROUP BY o_custkey
), rec AS (
  SELECT *, (SELECT MAX(last_transaction_day) FROM base) - last_transaction_day AS recency
  FROM base
), scored AS (
  SELECT *,
         CAST(6 - NTILE(5) OVER (ORDER BY recency ASC, customer ASC) AS INT) AS recency_score,
         CAST(NTILE(5) OVER (ORDER BY frequency ASC, customer ASC) AS INT) AS frequency_score,
         CAST(NTILE(5) OVER (ORDER BY monetary ASC, customer ASC) AS INT) AS monetary_score
  FROM rec
), edges AS (
  SELECT [ROUND(e, 4) FOR e IN quantile_cont(CAST(recency AS DOUBLE), [0.2, 0.4, 0.6, 0.8])] AS re,
         [ROUND(e, 4) FOR e IN quantile_cont(CAST(frequency AS DOUBLE), [0.2, 0.4, 0.6, 0.8])] AS fe,
         [ROUND(e, 4) FOR e IN quantile_cont(CAST(monetary AS DOUBLE), [0.2, 0.4, 0.6, 0.8])] AS me
  FROM rec
)
SELECT customer, last_transaction_day, recency, frequency,
       ROUND(monetary, 2) AS monetary,
       recency_score, frequency_score, monetary_score,
       CAST(6 - (1 + CAST(recency > re[1] AS INT) + CAST(recency > re[2] AS INT)
                   + CAST(recency > re[3] AS INT) + CAST(recency > re[4] AS INT)) AS INT) AS recency_score_q,
       CAST(1 + CAST(frequency > fe[1] AS INT) + CAST(frequency > fe[2] AS INT)
              + CAST(frequency > fe[3] AS INT) + CAST(frequency > fe[4] AS INT) AS INT) AS frequency_score_q,
       CAST(1 + CAST(monetary > me[1] AS INT) + CAST(monetary > me[2] AS INT)
              + CAST(monetary > me[3] AS INT) + CAST(monetary > me[4] AS INT) AS INT) AS monetary_score_q,
       CASE
         WHEN recency_score >= 4 AND frequency_score >= 4 AND monetary_score >= 4 THEN 'Champions'
         WHEN frequency_score >= 4 AND monetary_score >= 3 THEN 'Loyal Customers'
         WHEN recency_score >= 4 AND frequency_score >= 3 THEN 'Potential Loyalists'
         WHEN recency_score >= 4 AND frequency_score <= 2 THEN 'New Customers'
         WHEN monetary_score >= 4 THEN 'Big Spenders'
         WHEN frequency_score >= 3 AND recency_score >= 3 THEN 'Regular Customers'
         WHEN recency_score <= 2 AND frequency_score >= 3 AND monetary_score >= 3 THEN 'Need Attention'
         WHEN recency_score <= 2 AND frequency_score >= 2 AND monetary_score >= 2 THEN 'At Risk'
         WHEN recency_score <= 2 AND frequency_score >= 4 AND monetary_score >= 4 THEN 'Can''t Lose Them'
         WHEN recency_score <= 2 THEN 'Hibernating'
         ELSE 'Lost'
       END AS rfm_segment,
       ROUND(CASE WHEN frequency > 0 THEN monetary / frequency ELSE 0 END, 6) AS avg_basket_value
FROM scored CROSS JOIN edges
"""


def q_rfm_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 segment summary (analytics.py:320-328)."""
    segs = q_rfm_segments(spark, sf_dir)
    # monetary is a 2dp money double: sum it as DECIMAL(18,2) (exact in both
    # engines) and divide — AVG over the raw doubles is an order-dependent
    # float sum whose half-ulp drift can flip ROUND(...,2) at a .xx5 boundary
    money_sum = F.sum(F.col("monetary").cast("decimal(18,2)")).cast("double")
    return segs.groupBy("rfm_segment").agg(
        F.count(F.lit(1)).alias("segment_count"),
        F.round(F.avg("recency"), 2).alias("avg_recency"),
        F.round(F.avg(F.col("frequency").cast("double")), 2).alias("avg_frequency"),
        F.round(money_sum / F.count(F.lit(1)), 2).alias("avg_monetary"),
        F.round(money_sum, 2).alias("total_revenue"),
    )


SQL_RFM_SUMMARY = f"""
WITH segments AS ({SQL_RFM_SEGMENTS})
SELECT rfm_segment,
       COUNT(*) AS segment_count,
       ROUND(AVG(CAST(recency AS DOUBLE)), 2) AS avg_recency,
       ROUND(AVG(CAST(frequency AS DOUBLE)), 2) AS avg_frequency,
       ROUND(CAST(SUM(CAST(monetary AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 2) AS avg_monetary,
       ROUND(CAST(SUM(CAST(monetary AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_revenue
FROM segments
GROUP BY rfm_segment
"""


def q_pairwise_rules_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3/M4: category-level 1⇒1 association rules (brand ≈ department).

    lineitem ⨝ broadcast(part) → distinct (order, brand) → frequent-item
    pruning → self-join pair counts → support/confidence/lift expressions
    (reference views.py:133-348 / 361-678). The distinct (order, brand)
    frame is the materialized derived table shared with the FPGrowth and
    hybrid miners (`analytics_domain._basket_brands`)."""
    from market_data_mining_project_spark.plans.analytics_domain import _basket_brands

    rules = RULES.pairwise_rules(
        None,
        item="p_brand",
        basket="l_orderkey",
        ib=_basket_brands(spark, sf_dir),
        min_support=0.02,
        min_confidence=0.05,
        item_cap=None,
    )
    return rules


def _basket_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized distinct (l_orderkey, l_partkey) frame — the
    product-grain sibling of ``analytics_domain._basket_brands``: the miner
    scans it for the eager basket total, the frequent-item aggregate and
    BOTH pair-join sides, so one parquet materialization replaces four
    lineitem scans + distinct shuffles per call (the exact cost the brand
    grain's docstring documents the derived table existing to avoid)."""
    from market_data_mining_project_spark.sources import materialize as MAT

    def build() -> DataFrame:
        return (
            load_table(spark, sf_dir, "lineitem")
            .select(F.col("l_orderkey"), F.col("l_partkey"))
            .distinct()
        )

    return MAT.derived_table(spark, sf_dir, "basket_products", build, tables=("lineitem",))


def q_pairwise_rules_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 at PRODUCT grain — the reference's main mining case (92K items,
    views.py:133-348, with candidate caps and a TOP-2000 rule cut), vs the
    25-value brand grain above. This is where the Apriori-style pruning
    actually pays: the item space is the full part dimension (20K at sf0.1,
    200K×SF in general), so the ``item_cap`` keeps the pair self-join to the
    top-500 most-purchased items instead of |items|² candidates, and
    ``max_results`` bounds the output like the reference's TOP 2000.

    min_support is 0 (→ min_count 1): TPC-H-ish purchases are uniform
    across a growing part dimension, so — unlike real market data — no
    product pair ever reaches a fixed support ratio as SF grows; the
    machinery under test is the cap-based candidate pruning + metric
    expressions, not the (data-dependent) threshold."""
    ib = _basket_products(spark, sf_dir)
    return RULES.pairwise_rules(
        None,
        basket="l_orderkey",
        item="l_partkey",
        ib=ib,
        min_support=0.0,
        min_confidence=0.0,
        item_cap=500,
        max_results=2000,
    )


SQL_PAIRWISE_RULES_PRODUCT = """
-- heavy CTEs AS MATERIALIZED: DuckDB inlines CTEs by default, so the
-- 30M-row DISTINCT (ib) would re-evaluate once per consumer (tot, freq,
-- fib) and the scalar (SELECT total FROM tot) once per reference -- the
-- same re-inlining blowup the fpgrowth twin hit at sf5 (r10). Pure
-- execution hint: values unchanged.
WITH ib AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS b, l_partkey AS item FROM lineitem
), tot AS (
  SELECT COUNT(DISTINCT b) AS total FROM ib
), freq AS (
  SELECT item, COUNT(*) AS item_baskets FROM ib GROUP BY item
  ORDER BY item_baskets DESC, item ASC
  LIMIT 500
), fib AS MATERIALIZED (
  SELECT ib.b, ib.item FROM ib JOIN freq ON ib.item = freq.item
), pairs AS (
  SELECT a.item AS item_a, b2.item AS item_b, COUNT(*) AS pair_baskets
  FROM fib a JOIN fib b2 ON a.b = b2.b AND a.item < b2.item
  GROUP BY a.item, b2.item
), directed AS (
  SELECT item_a AS antecedent, item_b AS consequent, pair_baskets FROM pairs
  UNION ALL
  SELECT item_b AS antecedent, item_a AS consequent, pair_baskets FROM pairs
)
SELECT * FROM (
  SELECT d.antecedent, d.consequent, d.pair_baskets,
         fa.item_baskets AS antecedent_baskets,
         fb.item_baskets AS consequent_baskets,
         ROUND(CAST(d.pair_baskets AS DOUBLE) / (SELECT total FROM tot), 6) AS support,
         ROUND(CAST(d.pair_baskets AS DOUBLE) / fa.item_baskets, 6) AS confidence,
         ROUND((CAST(d.pair_baskets AS DOUBLE) / fa.item_baskets)
               / (CAST(fb.item_baskets AS DOUBLE) / (SELECT total FROM tot)), 6) AS lift
  FROM directed d
  JOIN freq fa ON d.antecedent = fa.item
  JOIN freq fb ON d.consequent = fb.item
)
ORDER BY lift DESC, antecedent ASC, consequent ASC
LIMIT 2000
"""


SQL_PAIRWISE_RULES_BRAND = """
-- ib/fib AS MATERIALIZED: same re-inlining guard as the product grain --
-- without it this grain ground 450 s / >40 GiB of temp at sf5 (r11)
WITH ib AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS b, p_brand AS item
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand IS NOT NULL
), tot AS (
  SELECT COUNT(DISTINCT b) AS total FROM ib
), mc AS (
  -- 2% support as integer arithmetic (total // 50) to avoid float-floor drift
  -- MLlib-exact ceil on the IEEE DOUBLE product (see SQL_FPGROWTH_RULES):
  -- Python math.ceil(total * 0.02) and this CEIL see the same double
  SELECT GREATEST(1, CAST(CEIL(CAST(0.02 AS DOUBLE) * total) AS BIGINT)) AS min_count, total FROM tot
), freq AS (
  SELECT item, COUNT(*) AS item_baskets FROM ib GROUP BY item
  HAVING COUNT(*) >= (SELECT min_count FROM mc)
), fib AS MATERIALIZED (
  SELECT ib.b, ib.item FROM ib JOIN freq ON ib.item = freq.item
), pairs AS (
  SELECT a.item AS item_a, b2.item AS item_b, COUNT(*) AS pair_baskets
  FROM fib a JOIN fib b2 ON a.b = b2.b AND a.item < b2.item
  GROUP BY a.item, b2.item
  HAVING COUNT(*) >= (SELECT min_count FROM mc)
), directed AS (
  SELECT item_a AS antecedent, item_b AS consequent, pair_baskets FROM pairs
  UNION ALL
  SELECT item_b AS antecedent, item_a AS consequent, pair_baskets FROM pairs
)
SELECT d.antecedent, d.consequent, d.pair_baskets,
       fa.item_baskets AS antecedent_baskets,
       fb.item_baskets AS consequent_baskets,
       ROUND(CAST(d.pair_baskets AS DOUBLE) / (SELECT total FROM tot), 6) AS support,
       ROUND(CAST(d.pair_baskets AS DOUBLE) / fa.item_baskets, 6) AS confidence,
       ROUND((CAST(d.pair_baskets AS DOUBLE) / fa.item_baskets)
             / (CAST(fb.item_baskets AS DOUBLE) / (SELECT total FROM tot)), 6) AS lift
FROM directed d
JOIN freq fa ON d.antecedent = fa.item
JOIN freq fb ON d.consequent = fb.item
WHERE ROUND(CAST(d.pair_baskets AS DOUBLE) / fa.item_baskets, 6) >= 0.05
  AND ROUND((CAST(d.pair_baskets AS DOUBLE) / fa.item_baskets)
            / (CAST(fb.item_baskets AS DOUBLE) / (SELECT total FROM tot)), 6) >= 0.0
"""


def q_pairwise_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r6 slot-merge carrier: BOTH association-rule grains in one
    grain-tagged, column-aligned UNION — the 25-value brand grain
    (support/confidence thresholds) stacked over the full product grain
    (cap-based candidate pruning, TOP-2000 cut). Every cell of the former
    `pairwise_rules_brand` and `pairwise_rules_product` entries still
    hash-checks; product keys render as their decimal strings in both
    engines. No cross-join inflation: |union| = |brand| + |product|."""
    brand = q_pairwise_rules_brand(spark, sf_dir).select(
        F.lit("brand").alias("grain"),
        F.col("antecedent").cast("string").alias("antecedent"),
        F.col("consequent").cast("string").alias("consequent"),
        "pair_baskets",
        "antecedent_baskets",
        "consequent_baskets",
        "support",
        "confidence",
        "lift",
    )
    product = q_pairwise_rules_product(spark, sf_dir).select(
        F.lit("product").alias("grain"),
        F.col("antecedent").cast("string").alias("antecedent"),
        F.col("consequent").cast("string").alias("consequent"),
        "pair_baskets",
        "antecedent_baskets",
        "consequent_baskets",
        "support",
        "confidence",
        "lift",
    )
    return brand.unionByName(product)


SQL_PAIRWISE_RULES = f"""
SELECT 'brand' AS grain, CAST(antecedent AS VARCHAR) AS antecedent,
       CAST(consequent AS VARCHAR) AS consequent, pair_baskets,
       antecedent_baskets, consequent_baskets, support, confidence, lift
FROM ({SQL_PAIRWISE_RULES_BRAND})
UNION ALL
SELECT 'product' AS grain, CAST(antecedent AS VARCHAR) AS antecedent,
       CAST(consequent AS VARCHAR) AS consequent, pair_baskets,
       antecedent_baskets, consequent_baskets, support, confidence, lift
FROM ({SQL_PAIRWISE_RULES_PRODUCT})
"""


def q_department_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 basket analyzer: per-basket category mix map + distinct-category
    count (reference department_mix JSONField, analytics.py:330-402).
    Output flattened (map → sorted json string) for oracle comparison."""
    li = load_table(spark, sf_dir, "lineitem").withColumnRenamed("l_partkey", "p_partkey")
    part = load_table(spark, sf_dir, "part")
    mix = department_mix(li, part, key="p_partkey", category="p_type", basket="l_orderkey")
    return mix.select(
        "l_orderkey",
        F.to_json("department_mix").alias("mix_json"),
        "unique_departments",
    ).filter(F.col("unique_departments") >= 4)


SQL_DEPARTMENT_MIX = """
WITH per_cat AS (
  SELECT l_orderkey, p_type, COUNT(*) AS cnt
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_type IS NOT NULL
  GROUP BY l_orderkey, p_type
)
SELECT l_orderkey,
       '{' || string_agg('"' || p_type || '":' || cnt, ',' ORDER BY p_type) || '}' AS mix_json,
       COUNT(DISTINCT p_type) AS unique_departments
FROM per_cat
GROUP BY l_orderkey
HAVING COUNT(DISTINCT p_type) >= 4
"""


QUERIES = {
    "rfm_segments": q_rfm_segments,
    "rfm_summary": q_rfm_summary,
    "pairwise_rules": q_pairwise_rules,
    "department_mix": q_department_mix,
}

ORACLE = {
    "rfm_segments": SQL_RFM_SEGMENTS,
    "rfm_summary": SQL_RFM_SUMMARY,
    "pairwise_rules": SQL_PAIRWISE_RULES,
    "department_mix": SQL_DEPARTMENT_MIX,
}
