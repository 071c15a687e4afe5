"""Physical-plan regression tests: the optimizations the 100 TB design
relies on must actually appear in the plans — predicate pushdown to the
parquet scan, broadcast joins for dims, TakeOrderedAndProject for top-k,
column pruning in ReadSchema."""

from __future__ import annotations


import __spark_entry__ as entry_mod


def _plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _plan(spark, sf_dir, name: str) -> str:
    return _plan_of(entry_mod.queries()[name](spark, sf_dir))


def test_keyset_branch_pushes_seek_predicate(spark, sf_dir):
    plan = _plan(spark, sf_dir, "pagination")
    assert "PushedFilters" in plan
    assert "GreaterThan(o_orderkey,5000)" in plan.replace(" ", "").replace("\n", "")


def test_filtered_scan_pushes_filters(spark, sf_dir):
    # the scan leg rides the merged scan_search_audit entry (r10); its
    # predicates must still reach the lineitem parquet scan inside the union
    plan = _plan(spark, sf_dir, "scan_search_audit")
    assert "PushedFilters: [" in plan
    # at least one real pushed predicate, not an empty list
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), "no predicates reached the scan"


def test_category_rollup_broadcasts_dim_and_takeordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "category_rollup")
    assert "BroadcastHashJoin" in plan  # part dim broadcast, no shuffle join
    assert "TakeOrderedAndProject" in plan  # top-n without global sort


def test_category_rollup_prunes_columns(spark, sf_dir):
    plan = _plan(spark, sf_dir, "category_rollup")
    # lineitem has 11 columns; the rollup needs 4 — ReadSchema must be pruned.
    # Match on the schema LINE itself: a whole post-split segment runs all
    # the way to the NEXT scan's text, so a preceding table's segment could
    # contain 'l_orderkey' in that other scan's column list and make the
    # pruning check latch onto the wrong struct.
    schemas = [seg.split("\n")[0] for seg in plan.split("ReadSchema: ")[1:]]
    lineitem_schemas = [s for s in schemas if "l_orderkey" in s]
    assert lineitem_schemas, "no lineitem scan schema found in the plan"
    schema = lineitem_schemas[0]
    assert "l_shipdate" not in schema and "l_tax" not in schema, schema


def test_semi_anti_plans_as_semi_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "semi_anti_customers")
    assert "LeftSemi" in plan or "LeftAnti" in plan


def test_pairwise_rules_prunes_before_self_join(spark, sf_dir):
    """Apriori monotonicity: the frequent-item filter must sit below the
    pair self-join (filter-then-join, not join-then-filter). Probed on the
    brand-grain plan function directly — in the catalog it serves through
    the merged `pairwise_rules` union, which preserves both legs' plans."""
    from market_data_mining_project_spark.plans.dunnhumby_domain import (
        q_pairwise_rules_brand,
    )

    plan = _plan_of(q_pairwise_rules_brand(spark, sf_dir))
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan
    # ORDERING, not mere presence: the plan prints root-first, so the pair
    # self-join (the first node mentioning its __b basket key) must appear
    # BEFORE the LeftSemi frequent-item prune that feeds it — a plan that
    # pruned AFTER the pair join would print the semi join first
    flat = plan.replace("\n", " ")
    assert "LeftSemi" in flat
    assert "__b" in flat, "pair self-join key missing from the plan"
    assert flat.index("__b") < flat.index("LeftSemi"), (
        "frequent-item semi-join sits above the pair join — join-then-filter"
    )


def test_monthly_sales_salts_the_aggregation(spark, sf_dir):
    """The A7 rollup must run as the two-phase salted aggregate — the salt
    column appears in the partial grouping keys and never in the output."""
    plan = _plan(spark, sf_dir, "monthly_sales")
    assert "__salt" in plan
    df = entry_mod.queries()["monthly_sales"](spark, sf_dir)
    assert "__salt" not in df.columns


def test_sql_exists_rewrites_to_semi_join(spark, sf_dir):
    """The banded correlated EXISTS through the SQL text API (the
    'repurchase' scope of the merged sql_reports carrier) must compile to
    a semi join, not a per-row subquery."""
    plan = _plan(spark, sf_dir, "sql_reports")
    assert "LeftSemi" in plan or "ExistenceJoin" in plan.replace(" ", "")


def test_horizon_features_broadcasts_brand_stats(spark, sf_dir):
    plan = _plan(spark, sf_dir, "horizon_features")
    assert "BroadcastHashJoin" in plan


def test_product_rules_cap_bounds_self_join_input(spark, sf_dir):
    """pairwise_rules_product at full part-dimension grain must (a) compute
    the top-500 frequent items with TakeOrderedAndProject (a bounded global
    top-k, not a full sort) and (b) prune BOTH self-join branches with a
    broadcast semi-join against that capped set — the plan property that
    keeps the pair join |capped|², not |items|², at any scale."""
    from market_data_mining_project_spark.plans.dunnhumby_domain import (
        q_pairwise_rules_product,
    )

    plan = _plan_of(q_pairwise_rules_product(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, "item_cap is not a bounded top-k"
    flat = plan.replace("\n", " ")
    assert flat.count("LeftSemi") >= 2, "self-join branches not semi-pruned"
    assert "BroadcastHashJoin" in flat or "BroadcastExchange" in flat


def test_pivot_queries_single_aggregate_with_broadcast_dim(spark, sf_dir):
    for name in ("pivot_brand_matrices", "stat_pivot_audit"):
        plan = _plan(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, name  # part dim broadcast


def test_lsh_topk_single_scan_no_wide_dedup(spark, sf_dir):
    """The multi-table LSH bucket join must read the embeddings ONCE (all
    table buckets from one Arrow matmul, not one scan branch per table) and
    must not dedup candidate pairs through a shuffle of the vectors — the
    first-matching-table filter makes pairs unique by construction."""
    plan = _plan(spark, sf_dir, "lsh_topk")
    corpus_scans = plan.count("Scan parquet")
    assert corpus_scans <= 2, f"{corpus_scans} scans (corpus + broadcast queries expected)"
    # BOTH conditions: the Arrow node must be present AND no row-at-a-time
    # Python eval may appear anywhere in the plan (the old disjunction
    # passed when a non-Arrow udf rode alongside the Arrow one)
    assert "ArrowEvalPython" in plan, "bucket UDF not Arrow"
    assert "BatchEvalPython" not in plan, "row-at-a-time Python eval in the plan"


def test_pivot_matrix_explicit_values_pin_schema(spark):
    """Explicit pivot values must fix the output schema independent of the
    data — on an empty frame the columns still appear (the contract the
    eager distinct-collect path cannot honor)."""
    from market_data_mining_project_spark.operators import diff as DIFF

    empty = spark.createDataFrame([], "r STRING, c STRING, v DOUBLE")
    piv = DIFF.pivot_matrix(empty, "r", "c", "v", "sum", values=["x", "y"])
    assert piv.columns == ["r", "x", "y"]
    assert piv.count() == 0


def test_rank_windows_rank_the_histogram_not_rows(spark, sf_dir):
    """MWU/KS scale guard: the unpartitioned cumulative window must sit over
    the distinct-value aggregate (|V| rows), never over raw rows — in the
    printed plan tree (parent before child) an aggregate must appear between
    the deepest Window node and the file scan."""
    from pyspark.sql import functions as F

    from market_data_mining_project_spark.operators import diff as DIFF
    from market_data_mining_project_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", F.col("o_totalprice").cast("double").alias("v")
    )
    frames = {
        "rank_sums": DIFF.rank_sums(orders, "o_orderpriority", "v"),
        "ks_statistic": DIFF.ks_statistic(
            orders, "o_orderpriority", "v", "1-URGENT", "5-LOW"
        ),
    }
    for name, frame in frames.items():
        lines = frame._jdf.queryExecution().executedPlan().toString().splitlines()
        win_idx = [i for i, l in enumerate(lines) if "Window" in l]
        assert win_idx, f"{name}: expected a Window node"
        below = lines[max(win_idx):]
        agg_i = next((i for i, l in enumerate(below) if "HashAggregate" in l), None)
        scan_i = next((i for i, l in enumerate(below) if "Scan" in l), None)
        assert agg_i is not None and scan_i is not None, f"{name}: {lines}"
        assert agg_i < scan_i, f"{name}: window ranks raw rows\n" + "\n".join(lines)


def test_threshold_sweep_is_one_pass_no_crossjoin(spark):
    """The churn threshold sweep must compute every threshold's confusion
    matrix in ONE aggregation over one scan of the scored frame — no
    crossJoin row multiplication, no per-threshold re-scan. The plan
    therefore contains exactly one scan of the input and zero
    nested-loop/cartesian joins."""
    from market_data_mining_project_spark.operators.churn import churn_threshold_sweep

    scored = spark.createDataFrame(
        [(0.05 * i % 1.0, i % 2) for i in range(40)],
        "churn_probability DOUBLE, churned INT",
    )
    plan = (
        churn_threshold_sweep(scored)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan, plan
    scans = plan.count("Scan ExistingRDD") + plan.count("LocalTableScan")
    assert scans == 1, f"expected one scan of the scored frame, got {scans}:\n{plan}"


def test_decontamination_broadcasts_eval_grams(spark, sf_dir):
    """The eval-set gram side must broadcast (benchmark-sized) so the train
    side's exploded grams are filtered without a pre-join shuffle, and the
    per-doc overlap count must partial-aggregate before its exchange
    (map-side combine)."""
    from pyspark.sql import functions as F

    from market_data_mining_project_spark.operators import dedup as D
    from market_data_mining_project_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    tr = docs.filter(F.col("doc_id") % 50 != 0)
    plan = (
        D.ngram_contamination(tr, ev, "text", "doc_id", n=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "partial_count" in plan, plan


def test_span_dedup_no_crossjoin_and_prunes_scan(spark, sf_dir):
    """The span-coverage plan must be the inverted-frequency shape — hash
    aggregates + a keyed join — never a pair-enumeration cross join, and
    the documents scan must read only (doc_id, text)."""
    plan = _plan(spark, sf_dir, "span_dedup")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan
    read = plan.split("ReadSchema: ", 1)[1].split("\n", 1)[0]
    assert "text" in read and "doc_id" in read
    assert "lang" not in read and "source" not in read, f"unpruned scan: {read}"


def _grain_lines(plan: str, node: str) -> list[str]:
    return [ln for ln in plan.splitlines() if node in ln]


def test_temporal_catalog_entries_ship_bucketed_grain(spark, sf_dir):
    """The three formerly hot-key-unsafe catalog entries must DEMONSTRATE
    the bounded-state bucketed plans, not just test them: the carry
    window / Arrow group node must be grained (key, __bkt) so no task
    ever holds one key's full history (the 100× hot-symbol guarantee).
    Hashes are unchanged — bucketed == plain is pytest-pinned exact."""
    import re

    # asof_enrichment: the match-carry window partitions on (user_id, __bkt)
    plan = _plan(spark, sf_dir, "asof_enrichment")
    carry = [
        ln
        for ln in _grain_lines(plan, "windowspecdefinition")
        if "__m_backward" in ln
    ]
    assert carry, plan
    assert all(
        re.search(r"windowspecdefinition\(user_id#\d+L?, __bkt#\d+", ln)
        for ln in carry
    ), carry[0]

    # session_stats: the in-bucket running-sum window is (user_id, __bkt)
    plan = _plan(spark, sf_dir, "session_stats")
    lcum = [
        ln for ln in _grain_lines(plan, "windowspecdefinition") if "__lcum" in ln
    ]
    assert lcum, plan
    assert all(
        re.search(r"windowspecdefinition\(user_id#\d+L?, __bkt#\d+", ln)
        for ln in lcum
    ), lcum[0]

    # ewma_trend: the local Arrow pass is a MapInPandas over
    # (user_id, __bkt)-hash-partitioned, partition-sorted rows (per-
    # PARTITION Arrow overhead — the per-group applyInPandas equivalent
    # was 10× slower at |keys×buckets| group counts); the repartition
    # exchange and the local sort must both carry the bucket grain. Only
    # the tiny per-bucket summary carry may group on the bare key.
    plan = _plan(spark, sf_dir, "ewma_trend")
    locals_ = _grain_lines(plan, "MapInPandas")
    locals_ = [ln for ln in locals_ if "_local_iter" in ln]
    assert locals_, plan
    grain_exchanges = [
        ln
        for ln in _grain_lines(plan, "Exchange hashpartitioning")
        if re.search(r"hashpartitioning\(user_id#\d+L?, __bkt#\d+", ln)
    ]
    assert grain_exchanges, plan
    grain_sorts = [
        ln
        for ln in _grain_lines(plan, "Sort [")
        if re.search(r"Sort \[user_id#\d+L? ASC NULLS FIRST, __bkt#\d+", ln)
    ]
    assert grain_sorts, plan


def test_rfm_ntile_is_distributed_histogram_rank(spark, sf_dir):
    """r8: the shipped rfm_segments NTILE is the histogram decomposition —
    no Spark ntile() node (that was the single-task global sort), every
    row_number tiebreak window PARTITIONED by its metric value, and the
    only unpartitioned windows are the bounded histogram walks (their
    functions aggregate the __cnt summary, never the customer frame)."""
    import re

    plan = _plan(spark, sf_dir, "rfm_segments")
    # word boundary: 'percentile(' (the edge-score aggregate) contains the
    # bare substring
    assert not re.search(r"(?<![a-z])ntile\(", plan), (
        "global-sort NTILE window still in the shipped plan"
    )
    for ln in plan.splitlines():
        m = re.search(r"windowspecdefinition\(([^)]*)\)", ln)
        if not m:
            continue
        spec = m.group(1)
        has_partition = not re.match(r"\s*\w+#\d+L? (ASC|DESC)", spec)
        if "row_number" in ln:
            assert has_partition, f"unpartitioned row_number over the data frame:\n{ln}"
        elif not has_partition:
            assert "__cnt" in ln, f"unpartitioned window not over a histogram walk:\n{ln}"


def test_rfm_histogram_scores_equal_window_scores(spark, sf_dir):
    """The distributed NTILE ships only because it is BIT-IDENTICAL to the
    window NTILE on the real frame: same scores, same tiebreaks — so the
    rfm_segments oracle hash is unchanged by construction."""
    from pyspark.sql import functions as F

    from market_data_mining_project_spark.operators import relational as R
    from market_data_mining_project_spark.operators import rfm as RFM
    from market_data_mining_project_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "order_day", F.datediff("o_orderdate", F.lit("1995-01-01").cast("date"))
    )
    base = RFM.rfm_base(
        orders, customer="o_custkey", basket="o_orderkey", day="order_day",
        sales="o_totalprice",
    ).cache()
    metrics = ("recency", "frequency", "monetary")
    cols = ("o_custkey", *(f"{m}_score" for m in metrics))
    try:
        window = base
        for m in metrics:
            window = R.ntile_score(window, F.col(m), 5, f"{m}_score", F.col("o_custkey"))
        want = sorted(tuple(r[c] for c in cols) for r in window.select(*cols).collect())
        # the one stacked pass the pipeline ships, all three metrics in one call
        got = sorted(
            tuple(r[c] for c in cols)
            for r in R.ntile_score_histogram(
                base, {m: f"{m}_score" for m in metrics}, 5, "o_custkey"
            )
            .select(*cols)
            .collect()
        )
    finally:
        base.unpersist()
    assert got == want and want
