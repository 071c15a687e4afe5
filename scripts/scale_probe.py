"""10× scale probe for the dedup / ANN / corpus-prep family.

Builds a ~10× sf0.1 fixture with ``build_sf1.build`` (50K near-duplicate
documents, 20K offset embeddings, extended events and order history; the
recipe and its rationale live there). Then it times the scale-sensitive
catalog entries at 1× and 10×
and prints the slope table that goes into PARITY.md — the measurement that
catches superlinear cliffs (a driver-side collect, an uncapped pair
enumeration) which the shape tests alone can't.

Run:  python scripts/scale_probe.py            (writes under /tmp)
"""

from __future__ import annotations

import json
import os
import shutil
import sys

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(_HERE))
sys.path.insert(0, _HERE)

import build_sf1  # noqa: E402  (the fixture recipe, a sibling script)

BASE = "/root/testdata/sf0.1"
WORK = "/tmp/mdmp_scale_probe"
COPIES = 10

#: catalog entries whose cost scales with the documents/embeddings tables
#: (the family VERDICT r5 asked to slope-test). Keys limited to entries
#: that read ONLY these two tables.
PROBE_QUERIES = (
    "corpus_audit",
    "text_profile",
    # ngram_jaccard/dup_clusters are probed as the UNDERLYING plan
    # functions, not the merged dedup_reports oracle entry: the slot-merge
    # cross-join (|pairs| × |clusters| materialized cells) would inflate
    # the timed output quadratically and fake a superlinear slope that
    # belongs to the merge representation, not to either operator.
    "ngram_jaccard",
    "dup_clusters",
    "span_dedup",
    "document_chunks",
    "minhash_candidates",
    "simhash_near_dups",
    "bm25_search",
    "bpe_tokenizer",
    # token_budget_sample + pii_redaction merged into this carrier (r9)
    "text_curation_audit",
    # mixture_plan + mixture_apply merged into this carrier (r12)
    "mixture_reports",
    "sequence_packing",
    "embedding_near_dups",
    "lsh_topk",
    "ivf_topk",
    "semantic_dedup",
    "embedding_reports",
)

#: events-only entries (the temporal/streaming family, added r6). The 10×
#: events fixture extends HISTORY (each copy shifted +31 days) rather than
#: densifying one month — so per-window density stays constant and a
#: linear operator should slope ~10× in output, never superlinearly in
#: comparisons.
#: streaming_dedup is deliberately EXCLUDED: its content key hashes
#: (user, type, value, props) — the only columns the fixture leaves
#: unchanged — so 9/10 of the 10× input would collapse as duplicates and
#: the "slope" would not measure a 10× workload.
EVENTS_PROBE_QUERIES = (
    "asof_enrichment",
    "ohlc_rollup",
    "range_join_errors",
    "streaming_range_join",
    "streaming_window_stats",
    "streaming_sessions",
    "running_user_totals",
    # r6 part-3 family: history extension grows sessions/spine-days/
    # anomaly-candidates ~linearly while per-user per-window density is
    # constant — any superlinear slope is a real plan cliff
    "session_stats",
    "daily_resample_locf",
    "value_anomalies",
    "rolling_user_features",
    "ewma_trend",
)


#: iterative-ML carriers (the one family with no slope datapoint through
#: r6): FPGrowth (steepest cross-SF batch entry at 3.7), PrefixSpan, and
#: the PageRank carrier. The 10× fixture replicates orders+lineitem with
#: shifted dates, so per-customer sequences extend ~10× in length and
#: baskets multiply 10× while the brand dimension (and so the
#: co-occurrence GRAPH) stays fixed — isolating the mining cost from
#: graph growth, which the synthetic distributed-PageRank probe below
#: measures separately.
ITERML_PROBE_QUERIES = (
    "fpgrowth_rules",
    "sequential_patterns",
    "brand_centrality",
)


def probe_distributed_pagerank(spark) -> dict:
    """The distributed PageRank loop's own slope datapoint (every catalog
    fixture routes to the driver-local solve — its parity is tested but
    its scaling wasn't measured): two deterministic synthetic graphs,
    10⁴ nodes/10⁵ edges and 10⁵ nodes/10⁶ edges, forced onto the
    distributed path, fixed 5 iterations (tol=0 — slope must measure
    per-iteration cost, not convergence luck)."""
    import time

    from pyspark.sql import functions as F

    from market_data_mining_project_spark.operators.graph import pagerank

    def run(n_nodes: int, n_edges: int) -> float:
        edges = spark.range(n_edges).select(
            F.pmod(F.xxhash64("id", F.lit(1)), F.lit(n_nodes)).alias("src"),
            F.pmod(F.xxhash64("id", F.lit(2)), F.lit(n_nodes)).alias("dst"),
        )
        t0 = time.perf_counter()
        # small_graph_edges=0 too: the probe measures the distributed
        # LOOP, so the dual-path gate must not add a discarded job
        out = pagerank(
            edges, max_iterations=5, tol=0.0, small_graph_nodes=0,
            small_graph_edges=0, check_every=5,
        )
        out.write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    small = run(10_000, 100_000)
    big = run(100_000, 1_000_000)
    print(f"  pagerank_distributed 1x: {small}s  10x: {big}s", flush=True)
    return {
        "x1_sec": small,
        "x10_sec": big,
        "slope": round(big / small, 1) if small else None,
    }


def time_catalog(spark, queries, sf_dir: str, names) -> dict[str, float]:
    """Delegates to bench._time_catalog (single timing implementation —
    a drifting local copy would make probe slopes non-comparable with
    BENCH numbers) and echoes per-query progress."""
    import bench

    probe = {n: queries[n] for n in names}
    timings = bench._time_catalog(spark, probe, sf_dir, repeats=1)
    for name in names:
        print(f"  {name}: {timings[name]}s", flush=True)
    return timings


def main() -> None:
    # fresh cache root: the probe measures computation, not cache hits —
    # CLEARED on every run, or a re-run would serve the 1x pass warm while
    # the rebuilt 10x fixture (new mtimes → new data_version) stays cold,
    # corrupting the slope table
    FAMILIES = {
        "docs": PROBE_QUERIES,
        "events": EVENTS_PROBE_QUERIES,
        "iterml": ITERML_PROBE_QUERIES,
    }
    # validate BEFORE paying the Spark session startup
    requested = sys.argv[1:] or list(FAMILIES)
    unknown = [f for f in requested if f not in FAMILIES]
    if unknown:
        raise SystemExit(f"unknown probe families {unknown}; choose from {sorted(FAMILIES)}")

    cache_root = os.path.join(WORK, "cache")
    shutil.rmtree(cache_root, ignore_errors=True)
    os.environ["SPARK_GRAFT_MODEL_DIR"] = cache_root
    from market_data_mining_project_spark.session import get_spark

    import __spark_entry__ as entry_mod

    spark = get_spark("mdmp-scale-probe", **{"spark.ui.enabled": "false"})
    queries = entry_mod.queries()
    # granular dedup probe targets (see PROBE_QUERIES comment)
    from market_data_mining_project_spark.plans import llm_pipeline as LLM

    queries.setdefault("ngram_jaccard", LLM.q_ngram_jaccard)
    queries.setdefault("dup_clusters", LLM.q_dup_clusters)
    # the range-join legs merged into range_join_audit (r10): probe the
    # UNDERLYING functions so each algorithm's slope is measured alone
    from market_data_mining_project_spark.plans import events_temporal as ET
    from market_data_mining_project_spark.plans import pipeline_io as PIO

    queries.setdefault("range_join_errors", ET.q_range_join_errors)
    queries.setdefault("streaming_range_join", PIO.q_streaming_range_join)
    # running_user_totals merged into streaming_state_audit (r11): probe the
    # underlying stateful-totals function alone — the merged entry's dedup
    # grains are excluded from slopes for the same reason streaming_dedup
    # always was (the 10x fixture leaves the content-key columns unchanged,
    # so 9/10 of the input collapses as duplicates)
    queries.setdefault("running_user_totals", PIO.q_running_user_totals)

    print("building the 10x fixture ...", flush=True)
    big = os.path.join(WORK, "sf1.0x")
    build_sf1.build(spark, BASE, big, COPIES)
    rows = {}
    for fam in requested:
        names = FAMILIES[fam]
        print(f"timing 1x {fam} (sf0.1) ...", flush=True)
        base = time_catalog(spark, queries, BASE, names)
        print(f"timing 10x {fam} ...", flush=True)
        scaled = time_catalog(spark, queries, big, names)
        rows.update({
            name: {
                "x1_sec": base[name],
                "x10_sec": scaled[name],
                "slope": round(scaled[name] / base[name], 1) if base[name] else None,
            }
            for name in names
        })
        if fam == "iterml":
            rows["pagerank_distributed"] = probe_distributed_pagerank(spark)

    print(json.dumps({"copies": COPIES, "queries": rows}, indent=1))


if __name__ == "__main__":
    main()
