"""Tracing for the benchmark's traced run, from outside the package.

Three sources, none of which edits the program:

- spans: the public layer functions (``materialize.derived_table``,
  ``persistence.load_or_train``, ``fit_pool.shared``/``prefetch`` and
  ``events.run_bounded``) are wrapped by replacing the module attribute the
  plans call through, and the runner opens a span per pass, entry, QueryFn
  call and action;
- Spark's status REST API: jobs, stages and SQL executions, billed to
  their owner by :func:`attribute`;
- a ``StreamingQueryListener`` for micro-batch progress.

Spans are ``{"id", "name", "parent", "start", "end", "pass", "thread",
...attrs}`` with times in seconds since tracing started (after the
set-up); all spans of a run share its trace id.
"""

from __future__ import annotations

import json
import re
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime

from stats import median, self_times

#: job-group prefix of foreground entries: "perfbench|<pass>|<entry>"
GROUP_PREFIX = "perfbench|"
#: the scheduling pool the program's background fits run in
FIT_POOL = "mdmp_background_fits"


def group_label(pass_name: str, entry: str) -> str:
    return f"{GROUP_PREFIX}{pass_name}|{entry}"


def parse_label(label: str) -> tuple[str, str]:
    _, pass_name, entry = label.split("|", 2)
    return pass_name, entry


# --------------------------------------------------------------------- spans


class Tracer:
    """In-memory span recorder plus the layer-function wrappers."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self.pass_name = "setup"
        self.entry_label: str | None = None
        self.stream_runs: dict[str, str] = {}  # streaming runId -> entry label
        self.progress: dict[str, list[dict]] = {}  # runId -> progress records
        self.fit_keys_prefetched: set = set()
        self.fit_keys_seen: set = set()
        self.fit_keys_consumed: set = set()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []
        self._main = threading.main_thread()

    def now(self) -> float:
        return time.perf_counter() - self.t0

    def open(self, name: str, **attrs) -> dict:
        stack = self._stack()
        span = {
            "id": None,
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "start": self.now(),
            "end": None,
            "pass": self.pass_name,
            "thread": threading.current_thread().name,
            **attrs,
        }
        with self._lock:
            span["id"] = len(self.spans)
            self.spans.append(span)
        stack.append(span)
        return span

    def close(self, span: dict) -> None:
        span["end"] = self.now()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()

    @contextmanager
    def span(self, name: str, **attrs):
        span = self.open(name, **attrs)
        try:
            yield span
        finally:
            self.close(span)

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    # ------------------------------------------------------------ wrappers

    def install(self) -> None:
        from market_data_mining_project_spark.ml import fit_pool, persistence
        from market_data_mining_project_spark.sources import materialize
        from market_data_mining_project_spark.streaming import events

        self._wrap(materialize, "derived_table", "sources.derived_table")
        self._wrap(persistence, "load_or_train", "ml.load_or_train",
                   on_result=lambda s, r: s.update(cached=bool(r[2])))
        self._wrap(events, "run_bounded", "streaming.run_bounded")
        self._wrap_fit_pool(fit_pool)

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._restore):
            setattr(mod, attr, orig)
        self._restore.clear()

    def _wrap(self, mod, attr: str, name: str, on_result=None) -> None:
        orig = getattr(mod, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name) as span:
                result = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(span, result)
                return result

        wrapper.__wrapped__ = orig
        self._restore.append((mod, attr, orig))
        setattr(mod, attr, wrapper)

    def _wrap_fit_pool(self, fit_pool) -> None:
        orig_prefetch, orig_shared = fit_pool.prefetch, fit_pool.shared
        tracer = self

        def prefetch(key, fn):
            with tracer._lock:
                if key not in tracer.fit_keys_seen:
                    tracer.fit_keys_seen.add(key)
                    tracer.fit_keys_prefetched.add(key)
            return orig_prefetch(key, fn)

        def shared(key, fn):
            with tracer._lock:
                tracer.fit_keys_seen.add(key)
                tracer.fit_keys_consumed.add(key)
            if threading.current_thread() is not tracer._main:
                return orig_shared(key, fn)
            with tracer.span("ml.fit_wait"):
                return orig_shared(key, fn)

        self._restore += [(fit_pool, "prefetch", orig_prefetch), (fit_pool, "shared", orig_shared)]
        fit_pool.prefetch, fit_pool.shared = prefetch, shared

    # ----------------------------------------------------------- streaming

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Listener(StreamingQueryListener):
            # Spark calls onQueryStarted before start() returns, so the
            # entry running at that moment is the query's owner
            def onQueryStarted(self, event):
                with tracer._lock:
                    tracer.stream_runs[str(event.runId)] = tracer.entry_label or "unowned"

            def onQueryProgress(self, event):
                p = event.progress
                rec = {
                    "batch_ms": float(p.batchDuration),
                    "state_rows": sum(int(s.numRowsTotal) for s in p.stateOperators),
                }
                with tracer._lock:
                    tracer.progress.setdefault(str(p.runId), []).append(rec)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()


# ---------------------------------------------------------------- REST API


def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


_SIZE = re.compile(r"([0-9.]+)\s*(B|KiB|MiB|GiB|TiB)")
_UNIT = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


def parse_size(value: str) -> float:
    """Bytes of a SQL size metric: ``'728.0 B'``, or the multi-task form
    ``'total (min, med, max ...)\\n1.2 KiB (...)'`` whose total leads line 2."""
    line = value.split("\n")[1] if value.startswith("total") else value
    m = _SIZE.search(line)
    return float(m.group(1)) * _UNIT[m.group(2)] if m else 0.0


class Rest:
    """Reads the application's status REST API on the driver UI."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def settle(self, timeout_s: float = 10.0) -> None:
        """Wait until no job is running and the job list stops growing:
        the action has returned, but the listener bus may lag behind."""
        end = time.perf_counter() + timeout_s
        last = -1
        while time.perf_counter() < end:
            jobs = self.get("/jobs")
            if len(jobs) == last and not any(j["status"] == "RUNNING" for j in jobs):
                return
            last = len(jobs)
            time.sleep(0.25)

    def snapshot(self) -> tuple[list, list, list]:
        return (
            self.get("/jobs"),
            self.get("/stages"),
            self.get("/sql?details=true&planDescription=false&offset=0&length=1000000"),
        )


def attribute(jobs: list[dict], stages: list[dict], stream_runs: dict[str, str]) -> dict:
    """Bill each stage attempt to its owner.

    A stage in the fit pool's scheduling pool is ``"background"`` whatever
    thread submitted it; otherwise a stage of a job whose group is a
    foreground entry label goes to that label, one of a streaming run goes
    to the entry that started the run, and anything else is
    ``"unclaimed"``. Skipped stages did no work and are left out.
    Returns ``{owner: [stage, ...]}``."""
    group_of: dict[int, str | None] = {}
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in job.get("stageIds", []):
            group_of.setdefault(sid, job.get("jobGroup"))
    owners: dict[str, list[dict]] = {}
    for st in stages:
        if st.get("status") == "SKIPPED":
            continue
        group = group_of.get(st["stageId"])
        if st.get("schedulingPool") == FIT_POOL:
            owner = "background"
        elif group and group.startswith(GROUP_PREFIX):
            owner = group
        elif group in stream_runs:
            owner = stream_runs[group]
        else:
            owner = "unclaimed"
        owners.setdefault(owner, []).append(st)
    return owners


def job_owners(jobs: list[dict], stream_runs: dict[str, str]) -> dict[int, str]:
    out = {}
    for job in jobs:
        group = job.get("jobGroup")
        if group and group.startswith(GROUP_PREFIX):
            out[job["jobId"]] = group
        elif group in stream_runs:
            out[job["jobId"]] = stream_runs[group]
    return out


def stage_sums(stages: list[dict]) -> dict[str, float]:
    """Operator counters summed over stage attempts (times in s, sizes in MB)."""
    mb = 1024.0 * 1024.0
    wait = 0.0
    for st in stages:
        sub, first = _ts(st.get("submissionTime")), _ts(st.get("firstTaskLaunchedTime"))
        if sub is not None and first is not None:
            wait += max(0.0, first - sub)
    return {
        "stages": float(len(stages)),
        "tasks": float(sum(st.get("numCompleteTasks", 0) + st.get("numFailedTasks", 0)
                           for st in stages)),
        "task_s": sum(st.get("executorRunTime", 0) for st in stages) / 1e3,
        "cpu_s": sum(st.get("executorCpuTime", 0) for st in stages) / 1e9,
        "gc_s": sum(st.get("jvmGcTime", 0) for st in stages) / 1e3,
        "launch_wait_s": wait,
        "shuffle_write_mb": sum(st.get("shuffleWriteBytes", 0) for st in stages) / mb,
        "shuffle_read_mb": sum(st.get("shuffleReadBytes", 0) for st in stages) / mb,
        "spill_mb": sum(st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
                        for st in stages) / mb,
        "peak_exec_mem_mb": max((st.get("peakExecutionMemory", 0) for st in stages),
                                default=0) / mb,
        "scan_mb": sum(st.get("inputBytes", 0) for st in stages) / mb,
        "scan_rows": float(sum(st.get("inputRecords", 0) for st in stages)),
        "failed_tasks": float(sum(st.get("numFailedTasks", 0) for st in stages)),
        "retried_stages": float(sum(1 for st in stages if st.get("attemptId", 0) > 0)),
    }


def python_bytes(executions: list[dict], owner_of_job: dict[int, str]) -> dict[str, dict]:
    """Bytes sent to / returned from Python workers per owner, from the SQL
    metrics of the Python/Arrow/pandas plan nodes."""
    out: dict[str, dict] = {}
    for ex in executions:
        job_ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
        owner = next((owner_of_job[j] for j in job_ids if j in owner_of_job), None)
        if owner is None:
            continue
        acc = out.setdefault(owner, {"sent": 0.0, "returned": 0.0})
        for node in ex.get("nodes", []):
            for m in node.get("metrics", []):
                if m["name"] == "data sent to Python workers":
                    acc["sent"] += parse_size(m["value"])
                elif m["name"] == "data returned from Python workers":
                    acc["returned"] += parse_size(m["value"])
    return out


# ------------------------------------------------------------ per-layer


def layer_metrics(tracer, rest_data, passes, setup, written_mb, cores) -> tuple[dict, dict]:
    """Per-layer metrics (the BENCHMARK.json list) and the detail extras."""
    jobs, stages, executions = rest_data
    owners = attribute(jobs, stages, tracer.stream_runs)
    owner_of_job = job_owners(jobs, tracer.stream_runs)
    py = python_bytes(executions, owner_of_job)
    warm = [p for p in passes if p["name"].startswith("w")]
    warm_names = {p["name"] for p in warm}

    def per_pass(pass_name):
        sts = [s for o, lst in owners.items() if o.startswith("perfbench|")
               and parse_label(o)[0] == pass_name for s in lst]
        jobs_n = sum(1 for j, o in owner_of_job.items() if parse_label(o)[0] == pass_name)
        sums = stage_sums(sts)
        sums["jobs"] = float(jobs_n)
        sent = sum(v["sent"] for o, v in py.items() if parse_label(o)[0] == pass_name)
        ret = sum(v["returned"] for o, v in py.items() if parse_label(o)[0] == pass_name)
        sums["python_sent_mb"] = sent / 1024.0 / 1024.0
        sums["python_returned_mb"] = ret / 1024.0 / 1024.0
        return sums

    warm_sums = [per_pass(p["name"]) for p in warm]
    walls = {p["name"]: p["wall_s"] for p in passes}
    spans = tracer.spans

    def span_sum(name, pass_name, **match):
        return sum(s["end"] - s["start"] for s in spans
                   if s["name"] == name and s["pass"] == pass_name and s["end"] is not None
                   and all(s.get(k) == v for k, v in match.items()))

    def warm_median(fn):
        return median([fn(p["name"]) for p in warm])

    all_stages = [s for lst in owners.values() for s in lst]
    whole = stage_sums(all_stages)
    lot_warm = [s for s in spans if s["name"] == "ml.load_or_train" and s["pass"] in warm_names]
    progress_runs = {p["name"]: [r for r, o in tracer.stream_runs.items()
                                 if o.startswith("perfbench|") and parse_label(o)[0] == p["name"]]
                     for p in warm}
    batch_ms = [rec["batch_ms"] for p in warm for r in progress_runs[p["name"]]
                for rec in tracer.progress.get(r, [])]

    m = {
        "session.import_s": setup["import_s"],
        "session.start_s": setup["start_s"],
        "session.warmup_s": setup["warmup_s"],
        "plans.build_s": warm_median(lambda p: span_sum("plans.build", p)),
        "plans.action_s": warm_median(lambda p: span_sum("plans.action", p)),
        "sources.scan_mb": median([w["scan_mb"] for w in warm_sums]),
        "sources.scan_rows": median([w["scan_rows"] for w in warm_sums]),
        "sources.derived_calls": float(sum(1 for s in spans if s["name"] == "sources.derived_table"
                                           and s["pass"] == "cold")),
        "sources.derived_s": span_sum("sources.derived_table", "cold"),
        "sources.written_mb": written_mb,
        "operators.jobs": median([w["jobs"] for w in warm_sums]),
        "operators.stages": median([w["stages"] for w in warm_sums]),
        "operators.tasks": median([w["tasks"] for w in warm_sums]),
        "operators.task_s": median([w["task_s"] for w in warm_sums]),
        "operators.cpu_s": median([w["cpu_s"] for w in warm_sums]),
        "operators.gc_s": median([w["gc_s"] for w in warm_sums]),
        "operators.core_util": median([w["task_s"] / (walls[p["name"]] * cores)
                                       for w, p in zip(warm_sums, warm)]),
        "operators.launch_wait_s": median([w["launch_wait_s"] for w in warm_sums]),
        "operators.shuffle_write_mb": median([w["shuffle_write_mb"] for w in warm_sums]),
        "operators.shuffle_read_mb": median([w["shuffle_read_mb"] for w in warm_sums]),
        "operators.spill_mb": median([w["spill_mb"] for w in warm_sums]),
        "operators.peak_exec_mem_mb": median([w["peak_exec_mem_mb"] for w in warm_sums]),
        "operators.python_sent_mb": median([w["python_sent_mb"] for w in warm_sums]),
        "operators.python_returned_mb": median([w["python_returned_mb"] for w in warm_sums]),
        "operators.failed_tasks": whole["failed_tasks"],
        "operators.retried_stages": whole["retried_stages"],
        "operators.unclaimed_stages": float(len(owners.get("unclaimed", []))),
        "ml.fits": float(sum(1 for s in spans if s["name"] == "ml.load_or_train"
                             and s["pass"] == "cold" and s.get("cached") is False)),
        "ml.fit_s": span_sum("ml.load_or_train", "cold", cached=False),
        "ml.model_load_s": warm_median(lambda p: span_sum("ml.load_or_train", p, cached=True)),
        "ml.cache_hit_ratio": (sum(1 for s in lot_warm if s.get("cached")) / len(lot_warm)
                               if lot_warm else 0.0),
        "streaming.queries": warm_median(lambda p: float(len(progress_runs[p]))),
        "streaming.batches": warm_median(lambda p: float(sum(
            len(tracer.progress.get(r, [])) for r in progress_runs[p]))),
        "streaming.batch_p50_ms": median(batch_ms) if batch_ms else 0.0,
        "streaming.state_rows": warm_median(lambda p: float(sum(
            tracer.progress[r][-1]["state_rows"] for r in progress_runs[p] if tracer.progress.get(r)))),
        "streaming.run_s": warm_median(lambda p: span_sum("streaming.run_bounded", p)),
    }
    bg = owners.get("background", [])
    bg_sums = stage_sums(bg)
    prefetched = tracer.fit_keys_prefetched
    fit_pool = {
        "ml.fit_wait_s": span_sum("ml.fit_wait", "cold"),
        "ml.prefetches": float(len(prefetched)),
        "ml.prefetch_useful_ratio": (len(prefetched & tracer.fit_keys_consumed) / len(prefetched)
                                     if prefetched else 0.0),
        "ml.background_stages": bg_sums["stages"],
        "ml.background_task_s": bg_sums["task_s"],
    }
    selfs = self_times([s for s in spans if s["end"] is not None])
    layer_self: dict[str, float] = {}
    for s in spans:
        if s["end"] is not None and s["pass"] in warm_names:
            layer_self[s["name"]] = layer_self.get(s["name"], 0.0) + selfs[s["id"]] / len(warm)
    return m, {"fit_pool": fit_pool, "warm_self_s_per_pass": layer_self,
               "stage_owners": {o: len(v) for o, v in owners.items()}}
