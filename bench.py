"""Per-round benchmark: times the catalog (or named entries) at $SPARK_GRAFT_SF_DIR.

Each query is materialized with a noop write (full execution, no driver
collect) after one synthetic warm-up job (``_warmup``) that keeps
JVM/session startup out of per-query numbers. Three profiles, each with
its cache state explicit:

- **cold**: SPARK_GRAFT_MODEL_DIR is redirected to a fresh temp dir, so no
  persisted model or derived table exists and every query pays its full
  first-session cost. Reported as ``queries`` / ``value`` (the primary,
  round-comparable numbers).
- **warm**: the same catalog re-run in the SAME process, over the
  persisted artifacts and the in-process memos: the steady state of a
  long-lived session. Reported as ``queries_warm`` / ``value_warm``.
- **warm_fresh**: the catalog run once more in a SUBPROCESS (fresh JVM and
  Python session, parent JVM stopped first) against the artifacts the cold
  pass published: the second-session serving profile (the reference's
  ml_models.py:197-210). Reported as ``queries_warm_fresh`` /
  ``value_warm_fresh``. ``SPARK_GRAFT_BENCH_FRESH=0`` skips it.

Prints ONE compact JSON line with the totals at BOTH ends, so either
truncation direction of the driver's bounded tail keeps all three:
``{"metric": ..., "value": cold_total, "unit": "sec", "value_warm": ...,
   "cache_state": ..., "sf": ..., "queries": {...}, "queries_warm": {...},
   "value_warm_fresh": ..., "queries_warm_fresh": {...},
   "totals": {"cold": ..., "warm": ..., "warm_fresh": ...}}``

Telemetry rides its own labelled stderr lines, which keeps the stdout
line's tail free for the three timing maps. ``bench telemetry: {name:
{"spill_bytes", "peak_exec_mem", "shuffle_write_bytes", "stages",
"task_time_ms", "jobs", "compiles"}, ..., "background": {"stages",
"fits"}, "unclaimed": {"stages"}}`` bills each stage of the cold pass to
its owner with ``perfbench/tracing.attribute``, the traced benchmark's
rule: a stage in the background-fit pool goes to ``background`` (split by
its ``fit:<artifact>`` job group), one of an entry's job group to that
entry, one of a streaming run to the entry that started the run, and the
rest to ``unclaimed``. Per entry it sums spill, executor task time and
shuffle write, takes the max peak execution memory and counts stages and
jobs, read from the status REST API: whether the entry still fits at the
next SF, and (task_time_ms / wall) how data-parallel it is. ``compiles``
counts the generated classes Spark compiled while the entry ran
(CodegenMetrics); it is a JVM-wide window, so a background fit compiling
beside an entry is counted on it. ``bench telemetry warm: {name:
{"compiles"}, ...}`` shows a warm entry that recompiles on every call.

``SPARK_GRAFT_BENCH_REPEATS=N`` (default 1) re-times each WARM-pass query
N times and reports the per-query MINIMUM, the ambient-load filter. The
cold and warm_fresh passes always run each query once: a repeat would hit
the caches or memos the first run left, turning the numbers warm.

Usage::

    python bench.py [ENTRY ...] [--stages] [--explain DIR]

- ``ENTRY ...`` restricts all three profiles to the named catalog entries;
  with no names the whole catalog runs and the output is the round artifact.
- ``--stages`` prints the cold-pass stages billed to each entry on stderr,
  top 12 by executor run time (task count, shuffle bytes, stage name).
- ``--explain DIR`` writes ``explain("formatted")`` of the DataFrame the
  cold pass just timed to ``DIR/<entry>.txt``, after its timed window
  closes: building a plan a second time would warm the cold numbers,
  because many plans do eager work (fits, derived tables) while built.

A subset at a bigger fixture is the heavy-family slope probe; two subset
runs under different ``SPARK_GRAFT_CPUS`` values, with the ratio read off
their ``queries_warm`` maps, are the core-scaling probe (README.md has both
command lines).
"""

from __future__ import annotations

import json
import os
import re
import sys
import tempfile
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _tracing():
    """``perfbench/tracing``, imported only by a pass that bills its stages,
    so ``perfbench/run.py``'s ``from bench import _warmup`` and the
    warm_fresh child import nothing from ``perfbench/``."""
    here = os.path.join(os.path.dirname(os.path.abspath(__file__)), "perfbench")
    if here not in sys.path:
        sys.path.insert(0, here)
    import tracing

    return tracing


class _Billing:
    """Bills one pass's stages as the module docstring says: each entry
    runs under the job group ``group_label("cold", entry)``, a listener maps
    each streaming run to the entry that started it, and only stages
    submitted after the pass began count."""

    def __init__(self, spark, tracing):
        self.spark, self.tracing = spark, tracing
        rest = tracing.Rest(spark)
        rest.settle()
        jobs = rest.get("/jobs")
        self.first_job = max((j["jobId"] for j in jobs), default=-1) + 1
        self.first_stage = max((s for j in jobs for s in j["stageIds"]), default=-1) + 1
        self.tracer = tracing.Tracer("bench")
        self.listener = self.tracer.listener()
        spark.streams.addListener(self.listener)

    @classmethod
    def open(cls, spark) -> "_Billing | None":
        """None when the status REST API is unreachable (UI off): telemetry
        must never cost a measured pass."""
        if spark.sparkContext.uiWebUrl is None:
            return None
        try:
            return cls(spark, _tracing())
        except (OSError, ValueError) as exc:
            print(f"bench telemetry skipped: {exc!r}", file=sys.stderr)
            return None

    def enter(self, name: str) -> None:
        self.tracer.entry_label = self.tracing.group_label("cold", name)
        self.spark.sparkContext.setJobGroup(self.tracer.entry_label, name)

    def close(self, names, telemetry: dict, stages: bool) -> None:
        """Fills ``telemetry``; on a REST failure leaves it as it was."""
        tracing, runs = self.tracing, self.tracer.stream_runs
        self.spark.sparkContext._jsc.clearJobGroup()
        self.spark.streams.removeListener(self.listener)
        try:
            rest = tracing.Rest(self.spark)
            rest.settle()
            # stages first: then every listed stage's job is listed too
            all_stages = rest.get("/stages")
            jobs = rest.get("/jobs")
        except (OSError, ValueError) as exc:
            print(f"bench telemetry skipped: {exc!r}", file=sys.stderr)
            return
        # a background fit may still run: its pending stages did no work yet
        new = [
            s for s in all_stages
            if s["stageId"] >= self.first_stage and s.get("status") != "PENDING"
        ]
        owners = tracing.attribute(jobs, new, runs)
        new_jobs = [j for j in jobs if j["jobId"] >= self.first_job]
        jobs_of = Counter(tracing.job_owners(new_jobs, runs).values())
        for name in names:
            label = tracing.group_label("cold", name)
            billed = owners.get(label, [])
            telemetry[name] = {
                "spill_bytes": sum(
                    s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in billed
                ),
                "peak_exec_mem": max((s.get("peakExecutionMemory", 0) for s in billed), default=0),
                "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in billed),
                "stages": len(billed),
                "task_time_ms": sum(s.get("executorRunTime", 0) for s in billed),
                "jobs": jobs_of[label],
            }
            if stages:
                _print_stages(name, billed)
        # a stage's group is its first job's, as in ``attribute``
        group_of = {
            sid: j.get("jobGroup")
            for j in sorted(new_jobs, key=lambda j: -j["jobId"])
            for sid in j["stageIds"]
        }
        fits = Counter(group_of.get(s["stageId"]) for s in owners.get("background", []))
        telemetry["background"] = {"stages": sum(fits.values()), "fits": dict(fits)}
        telemetry["unclaimed"] = {"stages": len(owners.get("unclaimed", []))}


def _print_stages(name: str, stages: list) -> None:
    """One entry's stage count on stderr, then its 12 slowest stages by
    executor run time."""
    print(f"bench stages {name}: {len(stages)} stages", file=sys.stderr)
    for s in sorted(stages, key=lambda s: -s.get("executorRunTime", 0))[:12]:
        print(
            f"  stage {s.get('stageId', '?'):>5} exec {s.get('executorRunTime', 0) / 1000:6.2f}s "
            f"{s.get('numCompleteTasks', 0):>4}t "
            f"shufR {s.get('shuffleReadBytes', 0) / 1e6:7.1f}M "
            f"shufW {s.get('shuffleWriteBytes', 0) / 1e6:7.1f}M  {s.get('name', '')[:90]}",
            file=sys.stderr,
        )


def _compile_count(spark) -> int:
    """Generated classes compiled so far in this JVM."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _write_explain(df, out_dir: str, name: str) -> None:
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    with open(os.path.join(out_dir, f"{name}.txt"), "w") as fh:
        fh.write(buf.getvalue())


def _time_catalog(
    spark,
    queries,
    sf_dir: str,
    repeats: int,
    telemetry: dict | None = None,
    *,
    compiles: dict | None = None,
    stages: bool = False,
    explain_dir: str | None = None,
) -> dict[str, float]:
    """Per-entry wall seconds (min over ``repeats``). With ``telemetry``,
    bills the pass's stages into it and, with ``stages``, prints each
    entry's slowest billed stages; with ``compiles``, fills it with each
    entry's compile count over its repeats; with ``explain_dir``, writes
    the plan of each DataFrame it timed there."""
    timings: dict[str, float] = {}
    billing = _Billing.open(spark) if telemetry is not None else None
    for name, fn in sorted(queries.items()):
        if billing is not None:
            billing.enter(name)
        compiled = _compile_count(spark) if compiles is not None else 0
        best = None
        for _ in range(repeats):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            _materialize(df)
            elapsed = time.perf_counter() - t0
            best = elapsed if best is None else min(best, elapsed)
            if explain_dir is not None:
                # outside the timed window but before clearCache: the plan
                # as timed, cached relations included
                _write_explain(df, explain_dir, name)
            # drop caches a query pinned for its own iterative stages so
            # later queries aren't measured under another query's footprint
            spark.catalog.clearCache()
        timings[name] = round(best, 3)
        if compiles is not None:
            compiles[name] = _compile_count(spark) - compiled
    if billing is not None:
        billing.close(sorted(queries), telemetry, stages)
    return timings


def _warmup(spark) -> None:
    # JVM codegen + shuffle machinery spin-up, not counted. Runs OUTSIDE
    # the catalog (a synthetic aggregate over spark.range) so no timed
    # query gets its scan/derived state pre-warmed — warming with
    # category_rollup understated that entry's (and the headline's) cold
    # cost.
    from pyspark.sql import functions as _F

    _materialize(
        spark.range(1_000_000).groupBy((_F.col("id") % 100).alias("g")).count()
    )


def _select(queries: dict, names) -> dict:
    """The named catalog entries, or the whole catalog when none are named."""
    unknown = sorted(set(names) - set(queries))
    if unknown:
        raise SystemExit(f"unknown catalog entries: {unknown}")
    return {n: queries[n] for n in names} if names else queries


def _child_main(sf_dir: str, entries) -> None:
    """Fresh-session warm pass: a NEW process (new JVM, no in-process
    memos) timing the parent's entries against the artifacts the parent's
    cold pass persisted under the inherited SPARK_GRAFT_MODEL_DIR. Emits
    the per-query timings as one JSON line on stdout."""
    from market_data_mining_project_spark.session import get_spark

    import __spark_entry__ as entry_mod

    queries = _select(entry_mod.queries(), entries)
    spark = get_spark("mdmp-bench-fresh", **{"spark.ui.enabled": "false"})
    _warmup(spark)
    # single-shot: a repeat would be served by the memos this profile excludes
    timings = _time_catalog(spark, queries, sf_dir, repeats=1)
    print(json.dumps(timings))


def _fresh_warm_pass(sf_dir: str, cache_root: str, *entries: str) -> dict[str, float]:
    import subprocess

    env = dict(
        os.environ,
        SPARK_GRAFT_BENCH_CHILD="1",
        SPARK_GRAFT_MODEL_DIR=cache_root,
        SPARK_GRAFT_SF_DIR=sf_dir,
    )
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), *entries],
        env=env,
        capture_output=True,
        text=True,
        timeout=3600,
    )
    if proc.returncode != 0:
        raise RuntimeError(
            f"fresh-warm child failed (rc={proc.returncode}): "
            f"{proc.stderr[-2000:]}"
        )
    for line in reversed(proc.stdout.strip().splitlines()):
        line = line.strip()
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(f"fresh-warm child emitted no JSON: {proc.stdout[-2000:]}")


def _fresh_warm_or_none(sf_dir: str, cache_root: str, *entries: str) -> dict[str, float] | None:
    """A failed/timed-out fresh child must DEGRADE the artifact (cold+warm
    only, stderr note), never discard the two passes already measured —
    at bigger SFs the child re-pays JVM startup plus the full catalog and
    can legitimately outlive the fixed timeout."""
    import subprocess

    try:
        return _fresh_warm_pass(sf_dir, cache_root, *entries)
    except (RuntimeError, subprocess.TimeoutExpired, ValueError) as exc:
        print(f"fresh-warm pass skipped: {exc}", file=sys.stderr)
        return None


def _parse_args():
    import argparse

    ap = argparse.ArgumentParser(
        description="Time catalog entries cold, warm and in a fresh session (warm_fresh)."
    )
    ap.add_argument(
        "entries", nargs="*", metavar="ENTRY", help="catalog entries to time (default: all)"
    )
    ap.add_argument(
        "--stages", action="store_true",
        help="print each entry's slowest cold-pass stages on stderr",
    )
    ap.add_argument(
        "--explain", metavar="DIR",
        help="write the plan each entry's cold pass timed to DIR/<entry>.txt",
    )
    return ap.parse_args()


def main() -> None:
    args = _parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    if os.environ.get("SPARK_GRAFT_BENCH_CHILD") == "1":
        _child_main(sf_dir, args.entries)
        return

    # fresh persistence root: the cold pass must not see artifacts from a
    # previous bench/session, and the warm pass must see exactly what the
    # cold pass published. Removed on exit — the artifacts are only useful
    # within this process's warm pass.
    import atexit
    import shutil

    cache_root = tempfile.mkdtemp(prefix="mdmp_bench_cache_")
    os.environ["SPARK_GRAFT_MODEL_DIR"] = cache_root
    atexit.register(shutil.rmtree, cache_root, True)

    from market_data_mining_project_spark.session import get_spark

    import __spark_entry__ as entry_mod

    queries = _select(entry_mod.queries(), args.entries)
    if args.explain is not None:
        os.makedirs(args.explain, exist_ok=True)
    # UI on: the stage REST API is the telemetry source (spill/peak-mem per
    # entry); the listener overhead is noise at catalog granularity. A full
    # sf0.1 cold pass runs ~2,400 stages, past the UI's default 1,000 kept.
    spark = get_spark(
        "mdmp-bench",
        **{
            "spark.ui.enabled": "true",
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        },
    )
    _warmup(spark)

    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "1")))
    # cold is ALWAYS single-shot: a second repeat would serve the caches the
    # first repeat published, and min-of-N would report that as "cold"
    telemetry: dict = {}
    cold_compiles: dict = {}
    warm_compiles: dict = {}
    cold = _time_catalog(
        spark, queries, sf_dir, repeats=1, telemetry=telemetry, compiles=cold_compiles,
        stages=args.stages, explain_dir=args.explain,
    )
    warm = _time_catalog(spark, queries, sf_dir, repeats, compiles=warm_compiles)
    for name, n in cold_compiles.items():
        telemetry.setdefault(name, {})["compiles"] = n

    # key order is the artifact contract: the driver records a bounded TAIL
    # of this line, so the three totals ride at BOTH ends — scalars first
    # (head truncation) and a compact `totals` trailer LAST (the observed
    # tail truncation) — making any surviving fragment self-sufficient for
    # round-over-round totals without the per-query maps.
    out = {
        "metric": "catalog_total_runtime",
        "value": round(sum(cold.values()), 3),
        "unit": "sec",
        "value_warm": round(sum(warm.values()), 3),
        "cache_state": "cold+warm",
        "sf": sf,
        "queries": cold,
        "queries_warm": warm,
    }
    # stderr, so the stdout line's recorded tail keeps the timing maps
    print(
        "bench telemetry: " + json.dumps(telemetry, separators=(",", ":")),
        file=sys.stderr,
    )
    warm_telemetry = {name: {"compiles": n} for name, n in warm_compiles.items()}
    print(
        "bench telemetry warm: " + json.dumps(warm_telemetry, separators=(",", ":")),
        file=sys.stderr,
    )
    if os.environ.get("SPARK_GRAFT_BENCH_FRESH", "1") != "0":
        # measured AFTER the in-process passes so the child sees exactly
        # the artifacts they published; its own JVM spin-up is excluded by
        # the child's warm-up, same as here. The parent JVM stops FIRST —
        # a real second session doesn't run beside an idle first one, and
        # two driver heaps would measure memory contention, not serving.
        spark.stop()
        fresh = _fresh_warm_or_none(sf_dir, cache_root, *args.entries)
        if fresh is not None:
            out["value_warm_fresh"] = round(sum(fresh.values()), 3)
            out["queries_warm_fresh"] = fresh
            out["cache_state"] = "cold+warm+warm_fresh"
    out["totals"] = {
        "cold": out["value"],
        "warm": out["value_warm"],
        "warm_fresh": out.get("value_warm_fresh"),
        "cache_state": out["cache_state"],
    }
    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()
