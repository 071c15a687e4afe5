"""Compare two sets of benchmark results (``perfbench/results/*.json``).

    python3 perfbench/compare.py BASE.json [BASE2.json ...] -- NEW.json [NEW2.json ...]

Prints, per end-to-end metric, each side's median over its files, the
relative change and, with two or more files on a side, that side's
quartile spread ((Q3 - Q1) / median): a change is only a gain when the
medians differ by more than the base's own spread. Seconds never compare
across hosts, so the comparison refuses to run (exit code 2) when any
file's host facts differ from the first file's. When the two sides are
the same workload untraced and traced, it also prints the tracing
overhead: traced ``warm_pass_s`` minus untraced ``warm_pass_s``.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import median, quartile_spread  # noqa: E402


def load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)["detail"]


def host_mismatch(details: list[dict]) -> list[str]:
    """Host facts that differ from the first result's, as readable lines."""
    ref = details[0]["provenance"]["host"]
    out = []
    for d in details[1:]:
        host = d["provenance"]["host"]
        for key in sorted(set(ref) | set(host)):
            if ref.get(key) != host.get(key):
                out.append(f"{key}: {ref.get(key)!r} != {host.get(key)!r}")
    return out


def compare(base: list[dict], new: list[dict]) -> dict[str, tuple[float, float, float]]:
    """{metric: (base median, new median, new / base - 1)} over end-to-end metrics."""
    out = {}
    for key in base[0]["end_to_end"]:
        b = median([d["end_to_end"][key] for d in base])
        n = median([d["end_to_end"][key] for d in new])
        out[key] = (b, n, n / b - 1.0 if b else float("nan"))
    return out


def _spread(details: list[dict], key: str) -> str:
    if len(details) < 2:
        return "   -  "
    return f"{quartile_spread([d['end_to_end'][key] for d in details]):6.1%}"


def main(argv: list[str]) -> int:
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    cut = argv.index("--")
    base, new = [load(p) for p in argv[:cut]], [load(p) for p in argv[cut + 1:]]
    if not base or not new:
        print("compare: each side needs at least one result file", file=sys.stderr)
        return 2
    bad = host_mismatch(base + new)
    if bad:
        print("compare: refusing, host facts differ:\n  " + "\n  ".join(bad), file=sys.stderr)
        return 2
    workloads = {d["perfbench"] for d in base + new}
    print(f"{'metric':14s} {'base':>12s}    {'new':>12s}  {'change':>7s}  "
          f"{'base spread':>11s}  {'new spread':>10s}")
    for key, (b, n, rel) in compare(base, new).items():
        print(f"{key:14s} {b:12.4f} -> {n:12.4f}  {rel:+7.1%}  "
              f"{_spread(base, key):>11s}  {_spread(new, key):>10s}")
    traces = ({d["trace"] for d in base}, {d["trace"] for d in new})
    if len(workloads) == 1 and traces in (({0}, {1}), ({1}, {0})):
        untraced, traced = (base, new) if traces[0] == {0} else (new, base)
        overhead = (median([d["end_to_end"]["warm_pass_s"] for d in traced])
                    - median([d["end_to_end"]["warm_pass_s"] for d in untraced]))
        print(f"tracing overhead (traced - untraced warm_pass_s): {overhead:+.4f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
