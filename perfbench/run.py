"""Benchmark of the market-data-mining catalog.

    python3 perfbench/run.py --workload reports --seed 1 --seconds 12 --trace 0

Run from the root of a checkout of this repository. One run:

1. imports the package, then generates the input tables from ``--seed``
   (``perfbench/datagen.py``, not timed) into a private work dir under
   ``perfbench/.work/``;
2. sets up once, as a user's process does: ``session.get_spark`` (which
   launches the JVM) and ``bench.py``'s synthetic warm-up job.
   ``setup_s`` is the import plus these two, and the runs over seeds
   give its samples;
3. runs one **cold** pass of the workload's entries over empty model and
   derived-table dirs, then ``round(--seconds / WARM_PASS_S)`` passes in
   the same session: one "jit" pass, then the **warm** passes; each entry
   goes through the noop sink, the pass order is drawn from the seed;
4. checks every entry's output (``perfbench/check.py``) outside the timed
   passes;
5. stops the JVM, removes the work dir and prints a detail line and, last,
   ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics with the Spark UI off and no
wrappers. ``--trace 1`` turns on the UI, the layer wrappers and the
streaming listener (``perfbench/tracing.py``) and reports the per-layer
metrics; it also writes the run's spans to ``perfbench/results/``.
Metric units, layers and what each should move: ``perfbench/workloads.py``.
``--seconds 0`` makes the shortest real run (``MIN_WARM_PASSES``).
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if HERE not in sys.path:
    sys.path.insert(0, HERE)

from stats import TAIL_PERCENTILE, median, tail  # noqa: E402
from workloads import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402

#: nominal warm-pass length: after the cold pass a run makes
#: round(--seconds / WARM_PASS_S) passes (at least MIN_WARM_PASSES). The
#: first, "jit", still compiles what the cold pass ran once (it reads
#: 20-40% slower than the next) and is left out of the warm statistics.
#: Passes keep getting faster for ten passes and more (1.3-1.6x from the
#: first to the tenth), so a fixed pass count, not a time window, keeps a
#: run's statistics on the same passes on a slow host.
WARM_PASS_S = 4.0
MIN_WARM_PASSES = 3
#: generated table scale: the fixtures' sf0.001 row counts
SCALE = 0.001
PACKAGE = "market_data_mining_project_spark"


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _check_checkout() -> None:
    need = ("__spark_entry__.py", f"{PACKAGE}/__init__.py", "tests/oracle_harness.py")
    missing = [p for p in need if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        _fail(f"not a checkout of the catalog (missing {', '.join(missing)} under {ROOT})")


# ------------------------------------------------------------------ process


def _tree_pids(root: int) -> list[int]:
    """``root`` and all its descendants, from /proc/<pid>/stat."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parent[int(name)] = int(stat[stat.rindex(")") + 2:].split()[1])
    out, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        out += frontier
    return out


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


class RssSampler:
    """Peak summed RSS of this process tree, sampled every ``interval`` s.

    A process counts only from its second sample on: between fork or
    vfork and exec a child reports its parent's RSS (a JVM spawning the
    Python daemon would count twice), and that window is far shorter than
    the interval."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="perfbench-rss", daemon=True)

    def _run(self) -> None:
        seen: set[int] = set()
        while not self._stop.is_set():
            pids = set(_tree_pids(os.getpid()))
            total = sum(_rss_mb(p) for p in pids & seen | {os.getpid()})
            self.peak_mb = max(self.peak_mb, total)
            seen = pids
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# -------------------------------------------------------------------- spark


def _isolate(work: str) -> dict[str, str]:
    """Point every place the program and Spark write to into ``work``."""
    dirs = {k: os.path.join(work, k) for k in ("data", "models", "tmp", "local", "warehouse", "duck")}
    for d in dirs.values():
        os.makedirs(d)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.update(
        SPARK_GRAFT_CPUS=cpus,
        SPARK_GRAFT_MODEL_DIR=dirs["models"],
        SPARK_LOCAL_DIRS=dirs["local"],
        TMPDIR=dirs["tmp"],
        # every JVM, the spark-submit launcher's too: temp files in the run
        # dir, no hsperfdata files in /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}",
        # Python workers import the package from the checkout
        PYTHONPATH=os.pathsep.join([ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
    )
    tempfile.tempdir = None  # re-read TMPDIR
    return dirs


def _overrides(dirs: dict[str, str], traced: bool) -> dict[str, str]:
    conf = {
        "spark.ui.enabled": "true" if traced else "false",
        "spark.sql.warehouse.dir": dirs["warehouse"],
    }
    if traced:
        conf.update({
            "spark.ui.port": "0",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.sql.ui.retainedExecutions": "1000000",
        })
    return conf


def _set_up(overrides: dict[str, str], traced: bool):
    """``session.get_spark`` (the JVM launch) and the synthetic warm-up
    job, shared with ``bench.py`` so the two keep one warm-up policy.
    Returns (spark, start_s, warmup_s)."""
    from bench import _warmup
    from market_data_mining_project_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", **overrides)
    t1 = time.perf_counter()
    if traced:
        spark.sparkContext.setJobGroup("perfbench|setup|warmup", "warm-up")
    _warmup(spark)
    return spark, t1 - t0, time.perf_counter() - t1


def _stop_jvm(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM
    (and with it the Python workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _wait_children(timeout_s: float = 30.0) -> None:
    end = time.monotonic() + timeout_s
    while time.monotonic() < end and len(_tree_pids(os.getpid())) > 1:
        time.sleep(0.2)


# ------------------------------------------------------------------- passes


def _span(tracer, name: str, **attrs):
    return tracer.span(name, **attrs) if tracer is not None else contextlib.nullcontext()


def _run_pass(spark, queries, names, sf_dir, pass_name, tracer, frames) -> dict:
    """One pass; returns {"name", "wall_s", "entries": [{entry, build_s,
    action_s, total_s, error}]} and puts each entry's DataFrame in ``frames``."""
    from tracing import group_label

    records = []
    if tracer is not None:
        tracer.pass_name = pass_name
    with _span(tracer, "pass", label=pass_name):
        t_pass = time.perf_counter()
        for name in names:
            rec = {"entry": name, "build_s": None, "action_s": None, "total_s": None,
                   "error": None}
            if tracer is not None:
                tracer.entry_label = group_label(pass_name, name)
                spark.sparkContext.setJobGroup(tracer.entry_label, name)
            with _span(tracer, "entry", entry=name):
                try:
                    t0 = time.perf_counter()
                    with _span(tracer, "plans.build"):
                        df = queries[name](spark, sf_dir)
                    t1 = time.perf_counter()
                    with _span(tracer, "plans.action"):
                        df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
                    rec.update(build_s=t1 - t0, action_s=t2 - t1, total_s=t2 - t0)
                    frames[name] = df
                except Exception as exc:  # noqa: BLE001 - a failing entry is counted, the run goes on
                    first_line = str(exc).splitlines()[0][:300] if str(exc) else ""
                    rec["error"] = f"{type(exc).__name__}: {first_line}"
                finally:
                    spark.catalog.clearCache()
            records.append(rec)
        wall = time.perf_counter() - t_pass
    return {"name": pass_name, "wall_s": wall, "entries": records}


# ------------------------------------------------------------------ metrics


def _dir_mb(path: str) -> float:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(base, f)).st_size
            except OSError:
                pass
    return total / (1024.0 * 1024.0)


def _provenance(args, rows: dict, java: str) -> dict:
    import platform

    import pyspark

    cpu = ""
    try:
        with open("/proc/cpuinfo") as f:
            cpu = next((ln.split(":", 1)[1].strip() for ln in f if ln.startswith("model name")), "")
    except OSError:
        pass
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 1024**3
    digest = hashlib.sha256()
    for base in (os.path.join(ROOT, PACKAGE),):
        for d, subdirs, files in sorted(os.walk(base)):
            subdirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(d, f), "rb") as fh:
                        digest.update(f.encode() + fh.read())
    commit = None
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.isfile(head):
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            ref_path = os.path.join(ROOT, ".git", ref[5:])
            commit = open(ref_path).read().strip() if os.path.isfile(ref_path) else ref
        else:
            commit = ref
    return {
        "host": {
            "nproc": len(os.sched_getaffinity(0)),
            "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "cpu_model": cpu,
            "mem_total_gb": round(mem_gb, 1),
            "pyspark": pyspark.__version__,
            "java": java,
            "python": platform.python_version(),
        },
        "git_commit": commit,
        "source_sha256": digest.hexdigest(),
        "seed": args.seed,
        "sf_dir": f"generated (scale {SCALE}, seed {args.seed}): {rows}",
    }


# --------------------------------------------------------------------- main


def _measure(args, names: list[str], dirs: dict[str, str], warm_passes: list[str]) -> dict:
    """The set-up, the input tables, the cold and warm passes and the
    output check, in one JVM that is stopped (and waited for) before
    returning."""
    traced = bool(args.trace)
    sf_dir = dirs["data"]
    t0 = time.perf_counter()
    import pyspark.sql  # noqa: F401

    import __spark_entry__ as entry_mod
    import market_data_mining_project_spark.session  # noqa: F401
    import_s = time.perf_counter() - t0
    queries = entry_mod.queries()
    missing = [n for n in names if n not in queries]
    if missing:
        _fail(f"catalog has no entries {missing}")

    import datagen

    rows = datagen.generate(sf_dir, args.seed, SCALE)
    spark = None
    try:
        spark, start_s, warmup_s = _set_up(_overrides(dirs, traced), traced)
        setup = {"import_s": import_s, "start_s": start_s, "warmup_s": warmup_s,
                 "setup_s": import_s + start_s + warmup_s}
        java = spark.sparkContext._jvm.System.getProperty("java.version")

        tracer = rest = None
        if traced:
            from tracing import Rest, Tracer

            tracer = Tracer(trace_id=os.path.basename(os.path.dirname(sf_dir)))
            tracer.install()
            spark.streams.addListener(tracer.listener())
            rest = Rest(spark)

        rng = random.Random(args.seed)
        frames: dict = {}
        passes = []
        written_mb = 0.0
        steal0, total0 = _cpu_ticks()
        with RssSampler() as rss:
            passes.append(_run_pass(spark, queries, rng.sample(names, len(names)), sf_dir,
                                    "cold", tracer, frames))
            cold_schemas = {n: df.schema.simpleString() for n, df in frames.items()}
            if traced:
                written_mb = _dir_mb(dirs["models"]) + _dir_mb(dirs["tmp"])
            for pass_name in warm_passes:
                frames = {}
                passes.append(_run_pass(spark, queries, rng.sample(names, len(names)), sf_dir,
                                        pass_name, tracer, frames))
        steal1, total1 = _cpu_ticks()

        rest_data = None
        if traced:
            rest.settle()
            rest_data = rest.snapshot()
            tracer.pass_name = "check"
            spark.sparkContext.setJobGroup("perfbench|check|all", "output check")
        from check import check_entries

        t_check = time.perf_counter()
        check = check_entries(spark, sf_dir, names, frames, cold_schemas, dirs["duck"])
        check_s = time.perf_counter() - t_check
        if tracer is not None:
            tracer.uninstall()
    finally:
        if spark is not None:
            _stop_jvm(spark)
        _wait_children()
    return {
        "rows": rows, "setup": setup, "java": java, "passes": passes,
        "check": check, "check_s": check_s, "peak_rss_mb": rss.peak_mb, "written_mb": written_mb,
        "steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
        "tracer": tracer, "rest_data": rest_data,
    }


def _summarize(args, names: list[str], m: dict) -> tuple[dict, dict]:
    """(detail line, result line) of a measured run."""
    passes, check, setup = m["passes"], m["check"], m["setup"]
    executions = [r for p in passes for r in p["entries"]]
    raised = [r for r in executions if r["error"]]
    mismatched = [n for n, problems in check.items() if problems]
    attempted = len(executions) + len(check)
    failed = len(raised) + len(mismatched)
    warm = [p for p in passes if p["name"].startswith("w")]
    warm_lat = [r["total_s"] for p in warm for r in p["entries"] if not r["error"]]
    tail_v, tail_beyond = tail(warm_lat) if warm_lat else (0.0, 0)
    e2e = {
        "setup_s": setup["setup_s"],
        "cold_pass_s": passes[0]["wall_s"],
        "warm_pass_s": median([p["wall_s"] for p in warm]),
        "entry_p50_s": median(warm_lat) if warm_lat else 0.0,
        "entry_tail_s": tail_v,
    }
    detail = {
        "perfbench": args.workload,
        "trace": args.trace,
        "provenance": _provenance(args, m["rows"], m["java"]),
        "seconds": args.seconds,
        "setup": setup,
        "passes": [{"name": p["name"], "wall_s": p["wall_s"]} for p in passes],
        "check_s": m["check_s"],
        "entries": {n: [r["total_s"] for p in passes for r in p["entries"] if r["entry"] == n]
                    for n in names},
        "entry_tail": {"percentile": TAIL_PERCENTILE, "samples": len(warm_lat),
                       "beyond": tail_beyond},
        # hypervisor steal during the passes: a run on a contended host
        # reads slow in every timing, which this tells apart
        "host_steal_pct": m["steal_pct"],
        # not an end-to-end metric: G1 sizes the heap by GC timing, and the
        # peak moved 20-40% between runs of one workload on one host
        "peak_rss_mb": m["peak_rss_mb"],
        "failed_ratio": failed / attempted,
        "errors": [r["error"] for r in raised] + [p for n in mismatched for p in check[n]],
        "end_to_end": e2e,
    }
    metrics, units = e2e, {k: v[0] for k, v in END_TO_END.items()}
    if args.trace:
        from tracing import layer_metrics

        metrics, extra = layer_metrics(m["tracer"], m["rest_data"], passes, setup,
                                       m["written_mb"],
                                       int(os.environ["SPARK_GRAFT_CPUS"]))
        units = {k: v[0] for k, v in PER_LAYER.items()}
        detail.update(extra, per_layer=metrics)
    result = {
        "correct": not raised and not mismatched,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    return detail, result


def main(argv: list[str]) -> int:
    args = _parse(argv)
    _check_checkout()
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    names = list(WORKLOADS[args.workload]["entries"])
    n_after_cold = max(MIN_WARM_PASSES, round(args.seconds / WARM_PASS_S))
    warm_passes = ["jit"] + [f"w{i}" for i in range(1, n_after_cold)]

    work_root = os.path.join(HERE, ".work")
    os.makedirs(work_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=work_root)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        measured = _measure(args, names, _isolate(work), warm_passes)
        detail, result = _summarize(args, names, measured)
        out_dir = os.path.join(HERE, "results")
        os.makedirs(out_dir, exist_ok=True)
        stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        with open(os.path.join(out_dir, stem + ".json"), "w") as f:
            json.dump({"detail": detail, "result": result}, f)
        if args.trace:
            tracer = measured["tracer"]
            with open(os.path.join(out_dir, stem + "-spans.json"), "w") as f:
                json.dump({"trace_id": tracer.trace_id, "spans": tracer.spans}, f)
        print(json.dumps(detail, separators=(",", ":")))
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(work_root)  # only when no other run is using it


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
