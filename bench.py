"""Per-round benchmark: times the catalog (or named entries) at $SPARK_GRAFT_SF_DIR.

Each query is materialized with a noop write (full execution, no driver
collect) after one synthetic warm-up job (``_warmup``) to exclude
JVM/session startup from per-query numbers.

TWO passes with the cache state explicit, so round-over-round comparisons
are like-for-like (the r4→r5 bench mixed a cold profile with an
all-caches-warm one):

- **cold**: SPARK_GRAFT_MODEL_DIR is redirected to a fresh temp dir, so no
  persisted model / derived-table / centroid / recommendation cache exists
  — every query pays its full first-session cost. Reported as ``queries``
  / ``value`` (the primary, round-comparable numbers).
- **warm**: the same catalog re-run in the SAME process — persisted
  artifacts plus in-process memos (session-scoped derived-table paths,
  fingerprint memos), i.e. the steady-state serving shape of a long-lived
  session, which is strictly warmer than a fresh second session would be
  (reference ml_models.py:197-210 is the cross-session analogue). Reported
  as ``queries_warm`` / ``value_warm``.
- **warm_fresh**: the catalog run ONCE MORE in a SUBPROCESS — a fresh
  JVM + Python session against the persisted artifacts the cold pass
  published, with no in-process memos (the parent JVM is stopped first so
  the child isn't measured under a second idle driver heap). This is the
  real second-session serving profile (the number the in-process warm
  pass could only caveat); reported as ``queries_warm_fresh`` /
  ``value_warm_fresh``. Like the cold pass it is ALWAYS single-shot —
  repeats would populate the in-process state this profile excludes. Set
  ``SPARK_GRAFT_BENCH_FRESH=0`` to skip it.

Prints ONE JSON line, scalar totals at BOTH ends so either truncation
direction of the driver's bounded tail keeps all three profile totals:
``{"metric": ..., "value": cold_total, "unit": "sec", "value_warm": ...,
   "cache_state": ..., "sf": ..., "queries": {...}, "queries_warm": {...},
   "value_warm_fresh": ..., "queries_warm_fresh": {...},
   "totals": {"cold": ..., "warm": ..., "warm_fresh": ...}}``

Telemetry (cold pass; ``bench telemetry: {name: {"spill_bytes",
"peak_exec_mem", "shuffle_write_bytes", "stages", "task_time_ms",
"compiles"}, ...}`` on stderr) sums shuffle spill, executor task time and
shuffle write, and takes max peak-execution-memory over each entry's
completed stages via the status REST API — the fits-at-the-next-SF signal
a timing alone can't give (task_time_ms / wall additionally says how
data-parallel an entry is, the core-scaling signal). ``compiles`` is the
number of generated classes Spark compiled while the entry ran (the
CodegenMetrics compilation count); the warm pass reports it too, on a
``bench telemetry warm: {name: {"compiles"}, ...}`` line, so a warm entry
that recompiles its code on every call is visible. Both counts are
wall-clock windows: background fits running beside an entry are billed to
it.

The telemetry map is emitted as its OWN labelled line on **stderr**, as
the driver records a bounded tail of the stdout line, and at 72 entries the
per-entry telemetry alone pushed the three per-query maps out of that
window (r13: the round-over-round comparison silently failed because the
stored tail of the r12 line starts mid-JSON). Every timing key — ``queries``
/ ``queries_warm`` / ``queries_warm_fresh``, the scalars, and the
``totals`` trailer — is unchanged; the timing methodology is untouched.
The stdout line is also serialized compactly (no separator spaces) for the
same reason.

``SPARK_GRAFT_BENCH_REPEATS=N`` (default 1) re-times each WARM-pass query
N times and reports the per-query MINIMUM — the standard ambient-load
filter (round-3's +18% "regression" was machine noise). The COLD pass
always runs each query exactly once: repeats there would hit the caches
repeat 1 just published, silently turning the headline cold numbers warm.

Usage::

    python bench.py [ENTRY ...] [--stages] [--explain DIR]

- ``ENTRY ...`` restricts all three profiles (cold, warm, warm_fresh — the
  fresh child gets the same subset) to the named catalog entries; with no
  names the whole catalog runs and the output is the round artifact.
- ``--stages`` prints each entry's cold-pass stages on stderr, top 12 by
  executor run time (task count, shuffle bytes, stage name), so the
  expensive stage is identifiable without the UI.
- ``--explain DIR`` writes ``explain("formatted")`` of the DataFrame the
  cold pass just timed to ``DIR/<entry>.txt``, after its timed window
  closes — building a plan a second time would warm the cold numbers,
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

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class _StageTelemetry:
    """Per-entry shuffle-spill / peak-execution-memory capture via the
    Spark status REST API (the same numbers the UI's stage page shows).
    At a fixed SF a timing says "fast here"; spill + peak memory say
    whether the entry still FITS at the next SF — the distinction the
    100 TB design claim rests on. Degrades to absent on any REST failure
    (UI off, port probe fails): telemetry must never cost a measured
    pass."""

    def __init__(self, spark):
        self._base = None
        self._seen: set = set()
        try:
            ui = spark.sparkContext._jsc.sc().uiWebUrl()
            if ui.isDefined():
                app_id = spark.sparkContext.applicationId
                self._base = f"{ui.get()}/api/v1/applications/{app_id}"
                self._snapshot()  # baseline: stages from warm-up don't count
        except Exception:
            self._base = None

    def _stages(self, status: str = "complete") -> list:
        import urllib.request

        with urllib.request.urlopen(f"{self._base}/stages?status={status}", timeout=10) as r:
            return json.loads(r.read())

    def _drain(self, deadline_s: float = 2.0) -> bool:
        """Poll until no ACTIVE stages remain (bounded). The query action
        has returned, but listener-bus lag can leave its trailing stages
        un-completed at sample time — without the drain those stages'
        spill/memory would be attributed to the NEXT entry's delta.
        Returns False when the deadline expired with stages still active —
        the caller records that, so a misattributed sample is identifiable
        instead of silent (heavy entries can lag the listener bus > 2 s)."""
        end = time.perf_counter() + deadline_s
        while time.perf_counter() < end:
            if not self._stages("active"):
                return True
            time.sleep(0.05)
        return False

    def _snapshot(self) -> list:
        new = []
        for s in self._stages():
            key = (s.get("stageId"), s.get("attemptId"))
            if key not in self._seen:
                self._seen.add(key)
                new.append(s)
        return new

    def sample(self) -> tuple[dict, list] | None:
        """Metrics summed over the stages completed since the last call,
        and those stages."""
        if self._base is None:
            return None
        try:
            drained = self._drain()
            new = self._snapshot()
        except Exception:
            self._base = None  # one failure disables; don't retry per query
            return None
        return {
            **({} if drained else {"drain_timeout": True}),
            "spill_bytes": sum(
                s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in new
            ),
            "peak_exec_mem": max((s.get("peakExecutionMemory", 0) for s in new), default=0),
            "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in new),
            "stages": len(new),
            # summed executor task time: task_time / (wall × cores) is the
            # core-utilization signal a wall clock alone can't give — a
            # data-parallel entry approaches 1.0, a fixed-overhead entry ~0
            "task_time_ms": sum(s.get("executorRunTime", 0) for s in new),
        }, new


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
    fills it per entry from the stage REST API and, with ``stages``, prints
    each entry's slowest stages; with ``compiles``, fills it with each
    entry's compile count over its repeats; with ``explain_dir``, writes
    the plan of each DataFrame it timed there."""
    timings: dict[str, float] = {}
    tel = _StageTelemetry(spark) if telemetry is not None else None
    for name, fn in sorted(queries.items()):
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
        if tel is not None:
            sampled = tel.sample()
            if sampled is not None:
                telemetry[name], new_stages = sampled
                if stages:
                    _print_stages(name, new_stages)
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
    # ALWAYS single-shot, like the cold pass and for the same reason:
    # repeat 1 populates the in-process memos this profile exists to
    # exclude, so a min-of-N here would silently report in-process-warm
    # numbers as "fresh". warm (min-of-N) vs warm_fresh (single-shot) is
    # therefore an asymmetric comparison by design, documented above.
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
    # entry); the listener overhead is noise at catalog granularity
    spark = get_spark("mdmp-bench", **{"spark.ui.enabled": "true"})
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
    # stderr: the recorded tail of the stdout line must fit the three
    # per-query timing maps + totals; the per-entry telemetry (~8 KB) is
    # diagnostic and rides its own labelled lines.
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
