"""Pins for the round-close tooling: scripts/ and the bench.py harness.

Most are pure Python; the bench subset run and the scaled-fixture build
need Spark.

The r11 verdict's top item: `bench_protocol.py`'s delta report silently
printed "0 common entries" when fed the driver's ``BENCH_r*.json`` shape
(``{n, rc, cpus, sf, tail, parsed}`` with the per-entry maps living only
in a front-truncated 2000-char ``tail`` string) — the exact artifact it
will always be given round-over-round. These tests pin the tail parser
against the REAL committed r10 driver artifact, the loud failure on a
map-less artifact, and `sweep_scale.run_segment`'s crash accounting
(ADVICE r11: a segment that died mid-run left its never-run entries
reported green per-entry).
"""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(name: str):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(_REPO, "scripts", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    assert spec.loader is not None
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize(
    "name",
    sorted(f[:-3] for f in os.listdir(os.path.join(_REPO, "scripts")) if f.endswith(".py")),
)
def test_script_imports(name):
    """Every script still imports: one that names a deleted module fails here."""
    _load(name)


# --- bench_protocol.per_entry_map -------------------------------------------------


def test_per_entry_map_parses_driver_tail_artifact():
    """The committed BENCH_r10.json IS the fixture: the natural prior-round
    input the protocol gets. Its tail starts mid-pair (`bpe_tokenizer": …`
    with the opening quote truncated away) and ends with the totals
    trailer — the parser must yield the surviving warm_fresh entries,
    skip the corrupted first pair, and not let totals scalars masquerade
    as entries."""
    bp = _load("bench_protocol")
    with open(os.path.join(_REPO, "BENCH_r10.json")) as fh:
        artifact = json.load(fh)
    assert "queries" not in artifact and "queries_warm_fresh" not in artifact
    q = bp.per_entry_map(artifact, "BENCH_r10.json")
    # the r10 tail covers ~68 of 75 warm_fresh entries
    assert len(q) > 50
    assert q["brand_centrality"] == 3.294
    assert q["value_anomalies"] == 0.497
    # front-truncated first pair (no opening quote): honestly skipped
    assert "bpe_tokenizer" not in q
    # totals scalars must not leak in as entries
    for k in ("cold", "warm", "warm_fresh", "value", "value_warm"):
        assert k not in q


def test_per_entry_map_prefers_full_maps():
    bp = _load("bench_protocol")
    artifact = {"queries_warm_fresh": {"q1": 1.5}, "tail": '"junk": 9.9, "totals"'}
    assert bp.per_entry_map(artifact, "x.json") == {"q1": 1.5}
    assert bp.per_entry_map({"queries": {"q2": 2.0}}, "x.json") == {"q2": 2.0}


def test_per_entry_map_fails_loudly_without_entries():
    """An artifact with no per-entry data must abort the delta report, not
    no-op into '0 common entries' (the r11 judge's measured failure)."""
    bp = _load("bench_protocol")
    with pytest.raises(SystemExit, match="no usable per-entry map"):
        bp.per_entry_map({"n": 11, "rc": 0, "tail": '{"value": 1.0}'}, "BENCH_rX.json")


# --- sweep_scale.run_segment crash accounting --------------------------------------


class _FakeProc:
    def __init__(self, lines: list[str], rc: int):
        import io

        self.stdout = io.StringIO("".join(ln + "\n" for ln in lines))
        self._rc = rc

    def wait(self):
        return self._rc


def _run_segment_with(monkeypatch, lines: list[str], rc: int, names: list[str]):
    sw = _load("sweep_scale")
    monkeypatch.setattr(
        sw.subprocess, "Popen", lambda *a, **k: _FakeProc(lines, rc)
    )
    return sw.run_segment(names, "/nonexistent", 0, 1)


def test_run_segment_marks_never_run_entries_on_crash(monkeypatch):
    """rc != 0 after one [FAIL] line: the crash must not leave the
    segment's remaining entries pre-seeded green (ADVICE r11)."""
    out = _run_segment_with(
        monkeypatch,
        ["[OK ] a (1.0s)", "[FAIL] b", "java.lang.OutOfMemoryError"],
        rc=1,
        names=["a", "b", "c", "d"],
    )
    assert out["a"] == []
    assert out["b"] and "[FAIL]" in out["b"][0]
    assert "never ran" in out["c"][0] and "never ran" in out["d"][0]


def test_run_segment_all_green_clean_exit(monkeypatch):
    out = _run_segment_with(
        monkeypatch, ["[OK ] a (1.0s)", "[OK ] b (2.0s)"], rc=0, names=["a", "b"]
    )
    assert out == {"a": [], "b": []}


def test_run_segment_crash_before_any_entry(monkeypatch):
    out = _run_segment_with(monkeypatch, ["Traceback ..."], rc=2, names=["a", "b"])
    assert all("never ran" in v[0] for v in out.values())


def test_run_segment_explained_failure_no_phantom_record(monkeypatch):
    """All entries reported, one failed, rc=1: the rc is fully explained —
    no extra segment_N phantom failure should inflate the count."""
    out = _run_segment_with(
        monkeypatch, ["[OK ] a (1.0s)", "[FAIL] b"], rc=1, names=["a", "b"]
    )
    assert set(out) == {"a", "b"}


# --- bench.py harness ---------------------------------------------------------------


def test_fresh_warm_pass_hands_the_entry_subset_to_the_child(monkeypatch):
    """The warm_fresh child must time the parent's subset, not the catalog."""
    import bench

    seen = {}

    def fake_run(cmd, **kwargs):
        seen["cmd"], seen["env"] = cmd, kwargs["env"]
        return subprocess.CompletedProcess(cmd, 0, stdout='{"category_rollup": 1.5}\n', stderr="")

    monkeypatch.setattr(subprocess, "run", fake_run)
    out = bench._fresh_warm_pass("/sf", "/cache", "category_rollup", "text_profile")
    assert out == {"category_rollup": 1.5}
    assert seen["cmd"][1:] == [os.path.join(_REPO, "bench.py"), "category_rollup", "text_profile"]
    assert seen["env"]["SPARK_GRAFT_BENCH_CHILD"] == "1"
    assert seen["env"]["SPARK_GRAFT_MODEL_DIR"] == "/cache"


def test_bench_subset_run_with_stages_and_explain(sf_dir, tmp_path):
    """One entry end to end: the stdout maps hold only that entry, the plan
    the cold pass timed is on disk, and stderr carries its stage lines and
    its compile counts for both passes (a fresh JVM compiles on the cold
    pass)."""
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_BENCH_FRESH="0",
        SPARK_DRIVER_MEMORY="2g",
    )
    explain_dir = tmp_path / "plans"
    proc = subprocess.run(
        [sys.executable, os.path.join(_REPO, "bench.py"), "category_rollup",
         "--stages", "--explain", str(explain_dir)],
        env=env, cwd=str(tmp_path), capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out["queries"]) == {"category_rollup"}
    assert set(out["queries_warm"]) == {"category_rollup"}
    plan = (explain_dir / "category_rollup.txt").read_text()
    assert "== Physical Plan ==" in plan
    lines = proc.stderr.splitlines()
    header = [i for i, ln in enumerate(lines) if ln.startswith("bench stages category_rollup: ")]
    assert header, proc.stderr[-3000:]
    assert lines[header[0] + 1].lstrip().startswith("stage ")
    telemetry = {
        label: json.loads(ln[len(label):])
        for ln in lines
        for label in ("bench telemetry: ", "bench telemetry warm: ")
        if ln.startswith(label)
    }
    assert telemetry["bench telemetry: "]["category_rollup"]["compiles"] > 0
    assert telemetry["bench telemetry warm: "]["category_rollup"]["compiles"] >= 0


# --- build_sf1.build ----------------------------------------------------------------


def test_build_sf1_keeps_schemas_and_order_to_ship_gaps(spark, sf_dir, tmp_path):
    """The scaled fixture must read like its base: one schema per table at
    every tier, and each copy keeps every line's order-to-ship gap — the
    base has lines shipped before their order date, so the count of those
    doubles with 2 copies rather than staying 0."""
    bs = _load("build_sf1")
    out = str(tmp_path / "x2")
    bs.build(spark, sf_dir, out, 2)

    def table(root, name):
        return spark.read.parquet(os.path.join(root, f"{name}.parquet"))

    for name in bs.TABLES:
        assert table(out, name).schema == table(sf_dir, name).schema, name

    def shipped_before_order(root):
        o, li = table(root, "orders"), table(root, "lineitem")
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .where(li.l_shipdate < o.o_orderdate)
            .count()
        )

    base = shipped_before_order(sf_dir)
    assert base > 0
    assert shipped_before_order(out) == 2 * base
