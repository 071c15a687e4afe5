"""Whole-catalog scale-tier oracle sweep (sf1 / sf5) as a standing gate.

The r10 sf5 sweep proved the catalog at the top tier but cost hours, with
two structural taxes this script removes so the sweep can run EVERY round:

- ``ewma_trend``: the DuckDB recursive twin is O(max_rank × |users|) —
  2225 s at sf5, almost all of it sequential DuckDB recursion. Here the
  sf5-tier check compares the Spark result restricted to the deterministic
  user sample ``user_id % EWMA_USER_MOD = 0`` against the twin with the
  same predicate (``plans.events_temporal.sql_ewma_trend``). Per-user
  recurrences are independent and every sampled user is still stepped at
  FULL history depth (the sf5 fixture's 4950-deep histories), so the
  downgrade samples user breadth only — the dimension the fixture
  replicates homogeneously. The FULL twin remains the sf1-and-below gate.
- ``dedup_reports``: the deliberately-uncapped exact-jaccard twin needs
  ~120 GB of DuckDB temp at sf5 (> this host's disk). The independent
  check at sf5 is ``scripts/recount_jaccard.py`` — sampled-pair exact
  recount + planted near-threshold probes, O(sample) — run as a child
  here. The quadratic twin remains the sf1-and-below gate; the cluster
  grain is additionally covered by the pair-table identity (clusters are
  a pure function of the hash-checked pair set, pytest-pinned).

Everything else runs the normal full-twin harness comparison.

Run:
    python scripts/build_sf1.py                     # sf1 -> /tmp/mdmp_sf1
    SPARK_GRAFT_SCALE_COPIES=50 SPARK_GRAFT_SCALE_OUT=/tmp/mdmp_sf5 \
        python scripts/build_sf1.py                 # sf5
    SPARK_GRAFT_SF_DIR=/tmp/mdmp_sf5 python scripts/sweep_scale.py

The sweep runs in ``SEGMENTS`` fresh subprocesses (a single-process sf5
run OOMs the driver heap from accumulated session state), ``PARALLEL`` of
them at once, each child's DuckDB ceiling divided by ``PARALLEL``; the
ewma tier samples ``user_id % EWMA_USER_MOD = 0``, and the dedup recount
child always runs last.

Second standing gate — the multi-executor sweep (r11 ran it bespoke):

    SPARK_GRAFT_SWEEP_LC=1 python scripts/sweep_scale.py

runs the WHOLE catalog (no sf5 downgrades — full twins, ewma included)
at sf0.01 under ``local-cluster[2,8,8192]`` — two separate executor
JVMs, so closure serialization, package self-shipping, broadcast and
Arrow passes all cross a real process boundary every round. SPARK_MASTER
and SPARK_GRAFT_SF_DIR still win if set explicitly. Each segment ends
with the harness's ``[executors] registered=.. removed=..`` churn line
(queried from the app REST API while the app is ALIVE — mid-run executor
loss is distinguishable from the standalone teardown race, whose stderr
noise the segment filter drops; only [OK]/[FAIL]/[executors] lines pass
through).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DOWNGRADED = ("ewma_trend", "dedup_reports")
EWMA_USER_MOD = 10
SEGMENTS = 4
PARALLEL = 2


def check_ewma_sampled(spark, con, sf_dir: str, user_mod: int) -> list[str]:
    from pyspark.sql import functions as F

    from market_data_mining_project_spark.plans import events_temporal as ET
    from tests.oracle_harness import compare

    df = ET.q_ewma_trend(spark, sf_dir).filter(F.col("user_id") % user_mod == 0)
    rel = con.sql(ET.sql_ewma_trend(user_mod))
    return compare(f"ewma_trend[user%{user_mod}]", df, rel)


def check_dedup_recount(sf_dir: str) -> list[str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "recount_jaccard.py")],
        env={**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir},
        capture_output=True,
        text=True,
    )
    tail = proc.stdout.strip().splitlines()
    if proc.returncode != 0:
        return [f"dedup recount failed rc={proc.returncode}: {tail[-3:]} {proc.stderr[-500:]}"]
    print(f"[sweep] recount: {tail[-1] if tail else '?'}", flush=True)
    return []


def run_segment(
    names: list[str], sf_dir: str, idx: int, total: int, env: dict[str, str] | None = None
) -> dict[str, list[str]]:
    """One catalog segment in a FRESH subprocess (own JVM + Python).

    A single-process whole-catalog sf5 sweep accumulates session state —
    single-slot caches, memory-sink generations, persisted-model handles,
    broadcast blocks — until the driver heap OOMs mid-catalog (r11: entry
    57 of 72 died with java.lang.OutOfMemoryError and poisoned every entry
    after it). Segments bound that accumulation AND contain the blast
    radius of any one entry's JVM damage, the same shape the r10 sweep ran
    by hand. Progress lines stream through live.

    Returns a verdict for EVERY name in the segment: [] only for entries
    that printed an [OK ] line. A segment that crashes (rc != 0) marks
    every entry that never reported as not-run — previously those stayed
    pre-seeded green and only the exit code knew (ADVICE r11)."""
    print(f"[sweep] segment {idx + 1}/{total}: {len(names)} entries", flush=True)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(REPO, "tests", "oracle_harness.py"), *names],
        env={**(env or os.environ), "SPARK_GRAFT_SF_DIR": sf_dir},
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
        text=True,
    )
    outcome: dict[str, list[str]] = {}
    assert proc.stdout is not None
    for line in proc.stdout:
        line = line.rstrip("\n")
        if line.startswith("[executors]"):
            # the harness's post-run churn line (non-local masters): pass
            # it through the segment filter so mid-run executor loss is
            # visible in the sweep log, not buried with teardown noise
            print(f"[sweep] segment {idx + 1}: {line}", flush=True)
            continue
        if line.startswith(("[OK ]", "[FAIL]")):
            print(line, flush=True)
            # "[OK ] name (1.2s)" / "[FAIL] name" — take what follows the
            # closing bracket (a bare .split()[1] yields "]" for OK lines,
            # whose tag has an inner space)
            parts = line.split("]", 1)[1].split()
            if parts and parts[0] in names:
                if line.startswith("[FAIL]"):
                    outcome.setdefault(parts[0], []).append(line)
                else:
                    outcome.setdefault(parts[0], [])
    rc = proc.wait()
    if rc != 0:
        # every never-reported entry is marked not-run — a mid-run crash
        # after one [FAIL] line used to leave the rest of the segment
        # reported green per-entry (guard was `rc != 0 and not failures`,
        # ADVICE r11). The rc itself is recorded only when no per-entry
        # record explains it (e.g. the harness died before any entry).
        unreported = [name for name in names if name not in outcome]
        for name in unreported:
            outcome[name] = [f"never ran: segment {idx} exited rc={rc} first"]
        if not unreported and not any(outcome.values()):
            outcome[f"segment_{idx}"] = [f"segment exited rc={rc} with no [FAIL] line"]
    return outcome


def main() -> None:
    lc_mode = os.environ.get("SPARK_GRAFT_SWEEP_LC") == "1"
    if lc_mode:
        # the multi-executor standing gate: whole catalog, FULL twins
        # (sf0.01 is cheap enough that no sf5 downgrade applies), two
        # executor JVMs unless the caller pinned a master themselves
        os.environ.setdefault("SPARK_MASTER", "local-cluster[2,8,8192]")
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    else:
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/tmp/mdmp_sf5")
    t0 = time.monotonic()

    import __spark_entry__ as entry_mod

    downgraded = () if lc_mode else DOWNGRADED
    names = [q for q in entry_mod.queries() if q not in downgraded]
    size = (len(names) + SEGMENTS - 1) // SEGMENTS
    segments = [names[i : i + size] for i in range(0, len(names), size)]
    results: dict[str, list[str]] = {name: [] for name in names}
    # segments are independent processes, so running PARALLEL at once
    # divides the wall time by ~PARALLEL on an otherwise-idle host (the r11
    # sequential sf5 run measured 87 min of main sweep; two at once bring
    # the whole gate under the hour). Each child's DuckDB memory ceiling is
    # divided by PARALLEL so concurrent twins can't jointly outgrow the box;
    # per-pid temp dirs already isolate their spill accounting. The divided
    # ceiling rides each CHILD's env only: the in-process ewma tier after
    # the segments runs alone and keeps the full ceiling (ADVICE r11).
    from concurrent.futures import ThreadPoolExecutor

    child_mem = max(8, int(os.environ.get("SPARK_GRAFT_DUCK_MEM_GB", "48")) // PARALLEL)
    child_env = {**os.environ, "SPARK_GRAFT_DUCK_MEM_GB": str(child_mem)}
    with ThreadPoolExecutor(max_workers=PARALLEL) as pool:
        futs = [
            pool.submit(run_segment, seg, sf_dir, i, len(segments), child_env)
            for i, seg in enumerate(segments)
        ]
        for fut in futs:
            results.update(fut.result())

    t_main = time.monotonic() - t0
    t_ewma = 0.0
    if not lc_mode:
        # the ewma tier runs in THIS process (fresh JVM — the segments were
        # subprocesses), with its own bounded DuckDB connection. In LC mode
        # ewma_trend already ran in a segment with its FULL twin.
        from market_data_mining_project_spark.session import get_spark
        from tests.oracle_harness import duck_connection

        spark = get_spark("mdmp-scale-sweep", **{"spark.ui.enabled": "false"})
        con = duck_connection(sf_dir)
        results["ewma_trend[sampled]"] = check_ewma_sampled(spark, con, sf_dir, EWMA_USER_MOD)
        con.close()
        t_ewma = time.monotonic() - t0 - t_main
        # run LAST (its child Spark session competes for the host)
        spark.stop()
        results["dedup_reports[recount]"] = check_dedup_recount(sf_dir)

    failed = 0
    for name, errs in sorted(results.items()):
        if errs:
            print(f"[FAIL] {name}")
            for e in errs[:4]:
                print(f"    {e}")
        failed += bool(errs)
    wall = time.monotonic() - t0
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "master": os.environ.get("SPARK_MASTER", "local"),
                "mode": "local-cluster" if lc_mode else "scale-tier",
                "entries": len(results),
                "failed": failed,
                "wall_sec": round(wall, 1),
                "main_sweep_sec": round(t_main, 1),
                "ewma_tier_sec": round(t_ewma, 1),
                "ewma_user_mod": EWMA_USER_MOD,
            }
        )
    )
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
