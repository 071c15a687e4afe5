"""Standing bench variance protocol: min-of-N triple-profile at HEAD.

Two rounds in a row the driver's single-shot bench artifact moved
double-digit percent while controlled A/Bs were flat — ambient host load,
adjudicated away at the cost of a judge session each time. This script
makes the r10 ad-hoc fix the standing protocol:

- runs ``bench.py`` REPS (2) times end-to-end, each run producing
  the full cold / warm / warm_fresh triple profile;
- merges per-entry MINIMUM per profile (min filters additive ambient
  noise; seeded fits make results identical across reps, so min is sound);
- prints the merged artifact as one JSON line (same schema as bench.py,
  plus ``protocol: min-of-N``);
- if a previous round's artifact is given, prints a per-entry delta table
  of every warm_fresh entry that moved more than DELTA_PCT (10%)
  in either direction — the "root-cause it in the round it appears" list.

Run (idle host, at HEAD, end of round):

    python scripts/bench_protocol.py [BENCH_rPREV.json]

Knobs: everything bench.py reads (SPARK_GRAFT_SF_DIR etc.).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: bench runs merged per protocol run; every committed BENCH_PROTOCOL_r*.json is min-of-2
REPS = 2
#: per-entry move (percent, either direction) the delta report flags
DELTA_PCT = 10.0


def run_bench_once(idx: int) -> dict:
    """One full bench.py run; returns its parsed JSON line."""
    print(f"[protocol] bench run {idx} ...", flush=True)
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    if proc.returncode != 0:
        raise SystemExit(
            f"bench run {idx} failed rc={proc.returncode}\n{proc.stderr[-3000:]}"
        )
    json_lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if not json_lines:
        # rc=0 with no JSON line (truncated/redirected output) must name
        # the run, not die in an opaque IndexError (ADVICE r11)
        raise SystemExit(
            f"bench run {idx} exited 0 but printed no JSON line; stdout tail:\n"
            f"{proc.stdout[-2000:]}"
        )
    return json.loads(json_lines[-1])


def merge_min(runs: list[dict]) -> dict:
    """Per-entry minimum across runs for each profile; totals recomputed."""
    out = dict(runs[0])  # telemetry/sf/unit from run 1
    for key in ("queries", "queries_warm", "queries_warm_fresh"):
        maps = [r[key] for r in runs if key in r]
        if not maps:
            continue
        names = set().union(*maps)
        out[key] = {
            n: round(min(m[n] for m in maps if n in m), 3) for n in sorted(names)
        }
    out["value"] = round(sum(out["queries"].values()), 3)
    out["value_warm"] = round(sum(out["queries_warm"].values()), 3)
    if "queries_warm_fresh" in out:
        out["value_warm_fresh"] = round(sum(out["queries_warm_fresh"].values()), 3)
    out["totals"] = {
        "cold": out["value"],
        "warm": out["value_warm"],
        "warm_fresh": out.get("value_warm_fresh"),
        "cache_state": out.get("cache_state"),
    }
    out["protocol"] = f"min-of-{len(runs)}"
    return out


def per_entry_map(artifact: dict, path: str) -> dict[str, float]:
    """Extract the warm_fresh per-entry map from ANY artifact shape.

    Two shapes exist in the wild: this protocol's own output (and
    bench.py's), which carries full ``queries_warm_fresh`` /
    ``queries`` maps — and the DRIVER's ``BENCH_r*.json``, which stores
    only ``{n, rc, cpus, sf, tail, parsed}`` where ``tail`` is the LAST
    2000 chars of bench stdout. Because bench.py emits its maps in
    cold → warm → warm_fresh → totals order, the tail's surviving
    per-entry fragment IS the (front-truncated) warm_fresh map — the
    right grain for the delta report. Parse it with a regex over
    ``"name": float`` pairs, cut at ``"totals"`` so the three totals
    scalars don't masquerade as entries; the front-truncated first pair
    lacks its opening quote and is correctly skipped. An artifact with
    NO per-entry data is a hard error — r11's judge fed a driver
    artifact and got a silent '0 common entries' no-op (VERDICT r11)."""
    q = artifact.get("queries_warm_fresh") or artifact.get("queries")
    if q:
        return q
    tail = artifact.get("tail") or ""
    body = tail.split('"totals"')[0]
    import re

    # \s* not a literal space: since r14 the bench line serializes compactly
    # (no separator spaces), and a driver tail of either vintage must parse
    pairs = re.findall(r'"([A-Za-z0-9_]+)":\s*([0-9]+(?:\.[0-9]+)?)[,}]', body)
    parsed = {name: float(val) for name, val in pairs}
    # drop bench.py scalar keys that can precede the per-entry maps in a
    # pathologically short tail (value/value_warm/... are totals, not entries)
    for scalar in ("value", "value_warm", "value_warm_fresh", "sf", "cpus"):
        parsed.pop(scalar, None)
    if len(parsed) < 5:
        raise SystemExit(
            f"{path}: no usable per-entry map (no queries_warm_fresh/queries "
            f"keys and only {len(parsed)} pairs parsed from its tail) — "
            "cannot build a delta report from this artifact"
        )
    return parsed


def delta_report(merged: dict, prev_path: str, threshold_pct: float) -> None:
    with open(prev_path) as fh:
        prev = json.load(fh)
    prev_q = per_entry_map(prev, prev_path)
    cur_q = merged.get("queries_warm_fresh") or merged.get("queries") or {}
    common = sorted(set(prev_q) & set(cur_q))
    print(
        f"[protocol] vs {os.path.basename(prev_path)}: {len(common)} common "
        f"entries, sum {sum(prev_q[n] for n in common):.1f} -> "
        f"{sum(cur_q[n] for n in common):.1f} s (warm_fresh grain)",
        flush=True,
    )
    flagged = [
        (n, prev_q[n], cur_q[n])
        for n in common
        if prev_q[n] > 0.2  # sub-0.2s entries are pure jitter
        and abs(cur_q[n] - prev_q[n]) / prev_q[n] * 100 > threshold_pct
        and abs(cur_q[n] - prev_q[n]) > 0.3
    ]
    for n, a, b in sorted(flagged, key=lambda t: -abs(t[2] - t[1])):
        print(f"[protocol]   DELTA>{threshold_pct:.0f}%: {n} {a:.2f} -> {b:.2f} s")
    if not flagged:
        print("[protocol]   no per-entry delta above threshold")


def main() -> None:
    runs = [run_bench_once(i + 1) for i in range(REPS)]
    merged = merge_min(runs)
    if len(sys.argv) > 1:
        delta_report(merged, sys.argv[1], DELTA_PCT)
    print(json.dumps(merged))


if __name__ == "__main__":
    main()
