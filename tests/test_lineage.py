"""truncate_lineage: the iterative-loop lineage cut (pointer doubling,
PageRank, BPE merges) with a cluster-reliability knob.

localCheckpoint (the local-mode default) stores blocks on executor-local
storage — unrecoverable after executor loss on a real cluster with dynamic
allocation. SPARK_GRAFT_CHECKPOINT_DIR switches every call site to reliable
checkpoint() against a fault-tolerant store."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from market_data_mining_project_spark.session import truncate_lineage


def test_default_path_is_local_checkpoint(spark, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    df = truncate_lineage(spark.range(10).withColumn("v", F.col("id") * 2))
    assert df.count() == 10
    # lineage really cut: the plan is a bare scan of the checkpointed RDD,
    # not the range+project chain
    assert "ExistingRDD" in df._jdf.queryExecution().toString()


def test_reliable_path_writes_to_checkpoint_dir(spark, monkeypatch, tmp_path):
    ckpt = tmp_path / "reliable_ckpt"
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(ckpt))
    df = truncate_lineage(spark.range(100).withColumn("v", F.col("id") % 7))
    assert df.count() == 100
    # blocks must land in the fault-tolerant store, not executor-local dirs
    written = [
        os.path.join(r, f) for r, _, fs in os.walk(ckpt) for f in fs
    ]
    assert written, "reliable checkpoint wrote nothing to SPARK_GRAFT_CHECKPOINT_DIR"
    # downstream ops on the truncated frame keep working
    assert df.groupBy("v").count().count() == 7


def test_reliable_path_is_consumed_by_iterative_operators(spark, monkeypatch, tmp_path):
    """The pointer-doubling cluster propagation — the deepest iterative
    consumer — must run green end-to-end on the reliable path."""
    from market_data_mining_project_spark.operators.dedup import dup_clusters

    ckpt = tmp_path / "reliable_ckpt2"
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(ckpt))
    # a 12-node chain forces several doubling iterations
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], ["doc_a", "doc_b"]
    )
    # force the distributed loop: THIS test pins the reliable-checkpoint
    # consumption of the iterative path, which the small-edge local gate
    # would otherwise route around
    got = {r.doc: r.cluster for r in dup_clusters(
        pairs, small_graph_edges=0
    ).collect()}
    assert set(got.values()) == {0}, "chain must collapse to one cluster"
    assert any(True for _ in os.walk(ckpt)), "checkpoint dir unused"


def test_reliable_checkpoint_survives_executor_kill(tmp_path):
    """End-to-end executor-loss recovery — the first multi-executor
    (separate-JVM) execution in the suite: an iterative truncate_lineage
    loop under ``local-cluster[2,4,2048]`` has one of its executor JVMs
    SIGKILLed mid-loop and must still complete with the exact result,
    because SPARK_GRAFT_CHECKPOINT_DIR routes every lineage cut to the
    fault-tolerant store (a localCheckpoint block on the dead executor
    would be unrecoverable and abort the job). Runs in a subprocess: the
    session-scoped local[*] context can't share a JVM with a second
    master."""
    import subprocess
    import sys

    env = dict(os.environ)
    env.update(
        SPARK_MASTER="local-cluster[2,4,2048]",
        SPARK_GRAFT_CHECKPOINT_DIR=str(tmp_path / "reliable_ckpt"),
        SPARK_DRIVER_MEMORY="2g",
        # must fit the 2048 MiB/worker above — the session default (6g,
        # sized for catalog sweeps) would refuse to launch
        SPARK_EXECUTOR_MEMORY="1g",
    )
    child = os.path.join(os.path.dirname(__file__), "_kill_executor_child.py")
    proc = subprocess.run(
        [sys.executable, child],
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, f"child failed:\n{proc.stdout[-3000:]}\n{proc.stderr[-3000:]}"
    assert "KILLTEST_OK" in proc.stdout, proc.stdout[-3000:]


def test_only_session_cuts_lineage_directly():
    """Every lineage cut goes through session.truncate_lineage, so
    SPARK_GRAFT_CHECKPOINT_DIR covers all of them, fit inputs included."""
    import market_data_mining_project_spark as pkg

    root = os.path.dirname(pkg.__file__)
    offenders = []
    for dirpath, _, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            if not name.endswith(".py") or path == os.path.join(root, "session.py"):
                continue
            with open(path) as fh:
                if ".localCheckpoint(" in fh.read():
                    offenders.append(os.path.relpath(path, root))
    assert offenders == []
