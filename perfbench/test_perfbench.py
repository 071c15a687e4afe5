"""Tests of the benchmark's own arithmetic, billing and inputs, plus a dry
run of each workload.

    python3 -m pytest perfbench/test_perfbench.py -q

The dry runs are real ``--seconds 0`` runs of each workload (about a
minute each); ``-k 'not dry_run'`` deselects them.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from stats import median, percentile, quartile_spread, self_times, tail  # noqa: E402
from tracing import (  # noqa: E402
    FIT_POOL,
    attribute,
    group_label,
    job_owners,
    parse_size,
    python_bytes,
    stage_sums,
)
from workloads import END_TO_END, FIT_POOL_COUNTERS, PER_LAYER, WORKLOADS  # noqa: E402


# ------------------------------------------------------------- order stats


def test_median_odd_even():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_percentile_matches_linear_interpolation():
    xs = [5.0, 1.0, 9.0, 3.0, 7.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 9.0
    assert percentile(xs, 50) == median(xs)
    assert percentile(xs, 25) == 3.0
    assert percentile(list(range(11)), 90) == pytest.approx(9.0)
    assert percentile([0.0, 10.0], 95) == pytest.approx(9.5)


def test_tail_is_fixed_p90_with_count_beyond():
    xs = [float(i) for i in range(100)]
    assert tail(xs) == (pytest.approx(89.1), 10)
    assert tail([1.0, 2.0, 3.0]) == (pytest.approx(2.8), 1)


def test_quartile_spread_uses_statistics_quantiles():
    xs = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    assert quartile_spread(xs) == pytest.approx((q3 - q1) / q2)


# --------------------------------------------------------------- span time


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_children():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 3.0), _span(2, 0, 5.0, 6.0),
             _span(3, 1, 1.5, 2.5)]
    st = self_times(spans)
    assert st[0] == pytest.approx(7.0)
    assert st[1] == pytest.approx(1.0)
    assert st[2] == pytest.approx(1.0)
    assert st[3] == pytest.approx(1.0)


def test_self_time_merges_overlapping_children_and_clips():
    # two concurrent children over [2, 6] cover 4 s, not 6; a child running
    # past its parent's end is clipped to the parent
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 2.0, 5.0), _span(2, 0, 3.0, 6.0),
             _span(3, 0, 9.0, 12.0)]
    assert self_times(spans)[0] == pytest.approx(10.0 - 4.0 - 1.0)


# ------------------------------------------------------------------ billing


def _stage(sid, pool="default", status="COMPLETE", attempt=0, **kw):
    return {"stageId": sid, "attemptId": attempt, "status": status, "schedulingPool": pool, **kw}


def test_attribution_by_group_pool_and_stream():
    fg = group_label("w1", "category_rollup")
    jobs = [
        {"jobId": 0, "jobGroup": fg, "stageIds": [0, 1]},
        {"jobId": 1, "jobGroup": None, "stageIds": [2]},       # fit-pool thread
        {"jobId": 2, "jobGroup": fg, "stageIds": [3]},         # inline fit, fit pool
        {"jobId": 3, "jobGroup": "run-uuid", "stageIds": [4]},  # streaming batch
        {"jobId": 4, "jobGroup": None, "stageIds": [5, 6]},    # nobody's
    ]
    stages = [_stage(0), _stage(1), _stage(2, pool=FIT_POOL), _stage(3, pool=FIT_POOL),
              _stage(4), _stage(5), _stage(6, status="SKIPPED")]
    stream_runs = {"run-uuid": group_label("w1", "streaming_window_stats")}
    owners = attribute(jobs, stages, stream_runs)
    assert [s["stageId"] for s in owners[fg]] == [0, 1]
    assert [s["stageId"] for s in owners["background"]] == [2, 3]
    assert [s["stageId"] for s in owners[stream_runs["run-uuid"]]] == [4]
    assert [s["stageId"] for s in owners["unclaimed"]] == [5]  # skipped stage left out
    assert job_owners(jobs, stream_runs) == {0: fg, 2: fg, 3: stream_runs["run-uuid"]}


def test_stage_sums_units_and_retries():
    stages = [
        _stage(0, numCompleteTasks=4, numFailedTasks=1, executorRunTime=1500,
               executorCpuTime=2_000_000_000, jvmGcTime=100, inputBytes=1024 * 1024,
               inputRecords=10, shuffleWriteBytes=2 * 1024 * 1024, peakExecutionMemory=5,
               submissionTime="2026-01-01T00:00:00.000GMT",
               firstTaskLaunchedTime="2026-01-01T00:00:00.250GMT"),
        _stage(0, attempt=1, numCompleteTasks=1, peakExecutionMemory=3 * 1024 * 1024),
    ]
    s = stage_sums(stages)
    assert s["stages"] == 2 and s["tasks"] == 6 and s["failed_tasks"] == 1
    assert s["task_s"] == pytest.approx(1.5) and s["cpu_s"] == pytest.approx(2.0)
    assert s["gc_s"] == pytest.approx(0.1) and s["launch_wait_s"] == pytest.approx(0.25)
    assert s["scan_mb"] == pytest.approx(1.0) and s["shuffle_write_mb"] == pytest.approx(2.0)
    assert s["peak_exec_mem_mb"] == pytest.approx(3.0) and s["retried_stages"] == 1


def test_python_bytes_from_sql_metrics():
    assert parse_size("728.0 B") == 728.0
    assert parse_size("total (min, med, max (stageId: taskId))\n1.5 KiB (0.0 B, 512.0 B)") == 1536.0
    fg = group_label("w1", "bpe_tokenizer")
    executions = [
        {"successJobIds": [7], "failedJobIds": [], "nodes": [
            {"nodeName": "ArrowEvalPython", "metrics": [
                {"name": "data sent to Python workers", "value": "1.0 KiB"},
                {"name": "data returned from Python workers", "value": "2.0 B"}]}]},
        {"successJobIds": [8], "failedJobIds": [], "nodes": []},
    ]
    assert python_bytes(executions, {7: fg}) == {fg: {"sent": 1024.0, "returned": 2.0}}


# ------------------------------------------------------------------- inputs


def test_datagen_is_deterministic_per_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    datagen.generate(a, 7, 0.001)
    datagen.generate(b, 7, 0.001)
    datagen.generate(c, 8, 0.001)
    import pyarrow.parquet as pq

    for t in ("lineitem", "events", "documents", "embeddings"):
        ta, tb, tc = (pq.read_table(os.path.join(d, f"{t}.parquet")) for d in (a, b, c))
        assert ta.equals(tb)
        assert not ta.equals(tc)


def test_workloads_are_disjoint_catalog_entries():
    sys.path.insert(0, os.path.dirname(HERE))
    import __spark_entry__ as entry_mod

    names = [n for w in WORKLOADS.values() for n in w["entries"]]
    assert len(names) == len(set(names))
    assert set(names) <= set(entry_mod.queries())


def test_benchmark_json_matches_definitions():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {
        k: v[0] for k, v in END_TO_END.items()}
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        k: v[0] for k, v in PER_LAYER.items()}


# ------------------------------------------------------------------ dry run


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_dry_run(workload):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "0", "--trace", "1"],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert set(result["metrics"]) == set(PER_LAYER)
    detail = json.loads(proc.stdout.strip().splitlines()[-2])
    assert set(detail["end_to_end"]) == set(END_TO_END)
    assert set(detail["fit_pool"]) == set(FIT_POOL_COUNTERS)
    assert detail["per_layer"]["operators.stages"] > 0
    assert detail["per_layer"]["operators.unclaimed_stages"] == 0


# ------------------------------------------------------------------ compare


def _result(warm, trace=0, nproc=4):
    host = {"nproc": nproc, "cpu_model": "x", "java": "17", "pyspark": "4.1.2"}
    return {"perfbench": "reports", "trace": trace, "provenance": {"host": host},
            "end_to_end": {"setup_s": 10.0, "warm_pass_s": warm}}


def test_compare_refuses_other_hosts(tmp_path, capsys):
    import compare

    paths = []
    for i, r in enumerate([_result(4.0), _result(4.0, nproc=8)]):
        p = tmp_path / f"{i}.json"
        p.write_text(json.dumps({"detail": r}))
        paths.append(str(p))
    assert compare.main([paths[0], "--", paths[1]]) == 2
    assert "nproc" in capsys.readouterr().err


def test_compare_medians_and_tracing_overhead(tmp_path, capsys):
    import compare

    files = []
    for i, r in enumerate([_result(4.0), _result(5.0), _result(4.5, trace=1)]):
        p = tmp_path / f"{i}.json"
        p.write_text(json.dumps({"detail": r}))
        files.append(str(p))
    assert compare.compare([_result(4.0), _result(5.0)], [_result(5.0)])["warm_pass_s"] == (
        4.5, 5.0, pytest.approx(5.0 / 4.5 - 1))
    assert compare.main([files[0], files[1], "--", files[2]]) == 0
    assert "tracing overhead (traced - untraced warm_pass_s): +0.0000 s" in capsys.readouterr().out
