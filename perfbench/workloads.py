"""Workloads and metric definitions of the benchmark.

Each workload is a fixed list of catalog entries (names from
``__spark_entry__.queries()``). One driver thread sends one entry at a time
(a closed loop with one client); the seed draws the entry order of every
pass and the generated input tables.

Why these workloads: the catalog splits into read-only report pages and
entries that write state (persisted models, derived tables, streaming
checkpoints and state stores). ``reports`` exercises the operators, the
parquet scans, derived tables and the scheduler, and bypasses ``ml`` and
``streaming``: a change to those layers must leave it unmoved.
``lifecycle`` writes a model and streaming state in its cold pass and reads
them back in its warm passes, so it exercises ``ml``, ``streaming``, the
Python/Arrow crossing and the write path of ``sources``.

Only 10 of the 72 catalog entries are timed: a run has about a minute,
of which the set-up takes ~11 s, a cold pass over the smallest tables
~15-25 s (JIT, Python worker start, model fit) and the output check
~3 s. The model entries that share the background fit pool
(als_recommendations, churn_*, horizon_predictions, model_grid_metrics)
start four fits together on their first call, ~35 s of cold pass alone,
so the fit pool is not exercised; its counters stay in the traced
detail line.
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    "reports": {
        "why": (
            "read-only report pages (TPC-H rollups, basket mix, rules, MinHash dedup): "
            "exercises operators, scans, derived tables and the scheduler; bypasses ml "
            "and streaming"
        ),
        "entries": [
            "category_rollup",      # tpch_relational: scan + aggregate
            "cohort_retention",     # tpch_relational: window over orders
            "semi_anti_customers",  # tpch_relational: semi/anti joins
            "department_mix",       # dunnhumby_domain: basket mix
            "fpgrowth_rules",       # analytics_domain: session-scoped derived table
            "dedup_reports",        # llm_pipeline: MinHash/Jaccard derived table
        ],
    },
    "lifecycle": {
        "why": (
            "write then read: a text classifier fitted and persisted cold, loaded warm; a "
            "stateful windowed stream with checkpoints; exercises ml, streaming, Python "
            "crossings, writes"
        ),
        "entries": [
            "quality_classifier",      # llm_pipeline: ml.persistence load_or_train
            "streaming_window_stats",  # pipeline_io: run_bounded, state store
            "media_pipeline",          # pipeline_io: Arrow-batched mapInPandas
            "ohlc_rollup",             # events_temporal: time-bucket rollup
        ],
    },
}

#: end-to-end metrics, measured with tracing and the Spark UI off.
#: name -> (unit, meaning)
END_TO_END: dict[str, tuple[str, str]] = {
    "setup_s": ("s", "the run's one set-up: the package import + session.get_spark "
                     "(which launches the JVM) + the synthetic warm-up job"),
    "cold_pass_s": ("s", "wall time of the first pass over empty model/derived dirs"),
    "warm_pass_s": ("s", "median wall time of the warm passes in the same session "
                         "(after the cold pass and one JIT pass)"),
    "entry_p50_s": ("s", "median per-entry latency over the warm passes"),
    "entry_tail_s": ("s", "p90 of warm per-entry latency (sample count and samples "
                          "beyond it in the detail line)"),
}

#: per-layer metrics of the traced run: name -> (unit, what it counts,
#: the end-to-end metric and workload it should move). "warm" metrics are
#: medians over the warm passes, "cold" metrics cover the cold pass.
PER_LAYER: dict[str, tuple[str, str, str]] = {
    "session.import_s": ("s", "package + pyspark import", "setup_s, both"),
    "session.start_s": ("s", "session.get_spark, incl. the JVM launch", "setup_s, both"),
    "session.warmup_s": ("s", "the synthetic warm-up job (cold JIT)", "setup_s, both"),
    "plans.build_s": ("s", "warm: time inside the catalog QueryFn call (plan build + "
                           "eager jobs)", "warm_pass_s, both"),
    "plans.action_s": ("s", "warm: time in the noop-sink action", "warm_pass_s, both"),
    "sources.scan_mb": ("MB", "warm: stage input bytes", "warm_pass_s, reports"),
    "sources.scan_rows": ("count", "warm: stage input records", "warm_pass_s, reports"),
    "sources.derived_calls": ("count", "cold: materialize.derived_table calls",
                              "cold_pass_s, reports"),
    "sources.derived_s": ("s", "cold: time inside materialize.derived_table",
                          "cold_pass_s, reports"),
    "sources.written_mb": ("MB", "bytes in the run's model, temp and checkpoint dirs "
                                 "after the cold pass", "cold_pass_s, lifecycle"),
    "operators.jobs": ("count", "warm: foreground Spark jobs", "warm_pass_s, reports"),
    "operators.stages": ("count", "warm: foreground stages", "warm_pass_s, reports"),
    "operators.tasks": ("count", "warm: foreground tasks", "warm_pass_s, reports"),
    "operators.task_s": ("s", "warm: summed executor run time", "warm_pass_s, reports"),
    "operators.cpu_s": ("s", "warm: summed executor CPU time", "warm_pass_s, reports"),
    "operators.gc_s": ("s", "warm: summed JVM GC time", "warm_pass_s, reports"),
    "operators.core_util": ("ratio", "warm: task_s / (pass wall x cores)",
                            "warm_pass_s, both"),
    "operators.launch_wait_s": ("s", "warm: sum of first task launch - stage submission",
                                "warm_pass_s, both"),
    "operators.shuffle_write_mb": ("MB", "warm: shuffle bytes written", "warm_pass_s, reports"),
    "operators.shuffle_read_mb": ("MB", "warm: shuffle bytes read", "warm_pass_s, reports"),
    "operators.spill_mb": ("MB", "warm: memory + disk spill", "warm_pass_s, reports"),
    "operators.peak_exec_mem_mb": ("MB", "warm: max stage peak execution memory",
                                   "the detail line's peak_rss_mb, both"),
    "operators.python_sent_mb": ("MB", "warm: bytes sent to Python workers (SQL metrics)",
                                 "warm_pass_s, lifecycle"),
    "operators.python_returned_mb": ("MB", "warm: bytes returned from Python workers",
                                     "warm_pass_s, lifecycle"),
    "operators.failed_tasks": ("count", "whole run: failed tasks", "failed count, both"),
    "operators.retried_stages": ("count", "whole run: stage attempts > 0", "failed count, both"),
    "operators.unclaimed_stages": ("count", "whole run: stages no entry group, streaming "
                                            "run or fit pool claims", "none (billing check)"),
    "ml.fits": ("count", "cold: load_or_train calls that trained", "cold_pass_s, lifecycle"),
    "ml.fit_s": ("s", "cold: time in load_or_train calls that trained",
                 "cold_pass_s, lifecycle"),
    "ml.model_load_s": ("s", "warm: time in load_or_train calls that loaded",
                        "warm_pass_s, lifecycle"),
    "ml.cache_hit_ratio": ("ratio", "warm: loaded calls / calls", "warm_pass_s, lifecycle"),
    "streaming.queries": ("count", "warm: streaming queries started", "warm_pass_s, lifecycle"),
    "streaming.batches": ("count", "warm: micro-batches (listener progress events)",
                          "warm_pass_s, lifecycle"),
    "streaming.batch_p50_ms": ("ms", "warm: median micro-batch duration",
                               "warm_pass_s, lifecycle"),
    "streaming.state_rows": ("count", "warm: state-store rows at each query's last batch",
                             "warm_pass_s, lifecycle"),
    "streaming.run_s": ("s", "warm: time inside events.run_bounded", "warm_pass_s, lifecycle"),
}

#: counters the traced run also reports in its detail line, which read 0 on
#: both workloads because no timed entry uses the background fit pool;
#: attribution by scheduling pool is unit-tested in test_perfbench.py
FIT_POOL_COUNTERS = (
    "ml.fit_wait_s",
    "ml.prefetches",
    "ml.prefetch_useful_ratio",
    "ml.background_stages",
    "ml.background_task_s",
)
