"""SparkSession factory with scale-oriented defaults.

The reference app tunes SQL Server by hand (indexes, batched cursors,
``UPDATE STATISTICS`` — reference ``Website/market/dunnhumby/admin.py:419-437``).
On Spark the equivalents are AQE, broadcast thresholds and shuffle-partition
sizing, set once here. Tests run on ``local[*]``; on a real cluster the same
config scales out unchanged — everything below is about plan quality, not
local-mode behavior.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for the 100 TB design point, still sane locally:
# - AQE on: runtime partition coalescing + skew-join splitting replaces any
#   hand-tuning of shuffle partition counts per query.
# - shuffle.partitions is only the pre-AQE upper bound; AQE coalesces down.
# - Arrow on: every pandas_udf / toPandas crossing is vectorized.
_DEFAULTS = {
    # ANSI mode PINNED on (the Spark 4 default, made explicit): every
    # catalog entry is oracle-swept under ANSI, and the operators carry
    # their own guards at the sites ANSI would otherwise abort — zero-norm
    # vectors are dropped before cosine 0/0 (operators/similarity.py),
    # NTILE bucket arithmetic guards its /0 literal with greatest()
    # (operators/relational.py), the KS ECDF divides through try_divide so
    # an empty group surfaces as the caller's ValueError instead of an
    # ArithmeticException (operators/diff.py). The catalog is additionally
    # swept green with ansi=false (SPARK_GRAFT_ANSI=false, r9 PARITY), so
    # results are mode-independent — no entry *relies* on an ANSI abort or
    # on legacy NULL-on-error semantics.
    "spark.sql.ansi.enabled": os.environ.get("SPARK_GRAFT_ANSI", "true"),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Generated-class cache (static, one per JVM). Spark's 100 entries are
    # far below the catalog: with them, bench.py's full sweep at sf0.001
    # compiled 3,004 classes cold and recompiled 2,340 in its in-process
    # warm pass. With these two settings the cold pass compiles 1,827 (an
    # upper bound on the distinct classes) and the warm pass 52; 4,096
    # leaves the catalog room to grow.
    "spark.sql.codegen.cache.maxEntries": "4096",
    # The cache is keyed on the generated source, and Spark writes the
    # whole-stage id into each class name. AQE numbers stages from a
    # per-query counter that every re-optimization advances, so a plan of
    # many stages (incremental_ingest's) got new ids, hence new sources,
    # on every call and recompiled ~100 classes each time.
    "spark.sql.codegen.useIdInClassName": "false",
    "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
    # Only meaningful off local[*] (local mode executes in the driver JVM).
    # Spark's 1g default is sized for nothing real: under
    # local-cluster[2,8,8192] the full catalog churned executors until the
    # standalone master killed the app (r11) — 8 task slots sharing 1 GB of
    # heap. Cluster deployments size this to the worker; the default here
    # keeps a multi-executor smoke run viable.
    "spark.executor.memory": os.environ.get("SPARK_EXECUTOR_MEMORY", "6g"),
}

# JDK-8192647 mitigation: with many executor threads in one JVM (local[32],
# or fat executors on a cluster), allocation during a JNI critical section
# (lz4/zstd shuffle+cache compression pins the heap via
# GetPrimitiveArrayCritical) can starve on the GC lock — HotSpot retries an
# allocation only GCLockerRetryAllocationCount (default 2!) times before
# throwing a SPURIOUS java.lang.OutOfMemoryError ("Retried waiting for
# GCLocker too often") with plenty of free heap. The r9 "exact-jaccard
# memory wall" at sf5 was exactly this: raising the retry count lets the
# same job finish on the default 8 g heap (192 s, zero OOM) where it
# previously needed 48 g. The option is diagnostic (needs the unlock flag)
# and was REMOVED with the whole GCLocker in JDK ≥22 — set
# SPARK_GRAFT_JVM_GC_OPTS="" there (or to your own flags) or the JVM will
# refuse to start on the unknown option.
_GC_OPTS = os.environ.get(
    "SPARK_GRAFT_JVM_GC_OPTS",
    "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=64",
)
if _GC_OPTS:
    _DEFAULTS["spark.driver.extraJavaOptions"] = _GC_OPTS
    _DEFAULTS["spark.executor.extraJavaOptions"] = _GC_OPTS


def truncate_lineage(df, eager: bool = True):
    """Cut a DataFrame's lineage — the iterative-loop idiom (pointer
    doubling, PageRank, BPE merges) where an uncut plan grows
    exponentially with iterations.

    Local mode defaults to ``localCheckpoint``: blocks live on executor
    local storage, no distributed-FS round-trip. That is the WRONG default
    on a real cluster with executor loss or dynamic allocation — a
    locally-checkpointed block is unrecoverable (lineage is truncated, so
    nothing can recompute it) and the job dies. Set
    ``SPARK_GRAFT_CHECKPOINT_DIR`` (an HDFS/S3/shared path) to switch every
    call site to reliable ``checkpoint()``: blocks are written to the
    fault-tolerant store and survive any executor. The knob is read per
    call so a long-lived session can adopt it; the checkpoint dir is set on
    the SparkContext on first use (idempotent — Spark keeps the last value,
    and re-setting the same path is a no-op in practice).
    """
    ckpt_dir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckpt_dir:
        sc = df.sparkSession.sparkContext
        # setCheckpointDir appends a UUID subdir, so the context's stored
        # value never string-equals the knob — track the last value WE set
        # instead (re-setting on change lets a long-lived session adopt a
        # new knob value; Spark allows it and old checkpoints stay valid).
        if getattr(sc, "_graft_ckpt_dir", None) != ckpt_dir:
            sc.setCheckpointDir(ckpt_dir)
            sc._graft_ckpt_dir = ckpt_dir
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def _is_local(master: str) -> bool:
    return master == "local" or master.startswith("local[")


def _ship_package(spark: SparkSession) -> None:
    """Distribute this package to executor Python workers on any
    multi-process master.

    Module-level UDFs (the stateful-streaming updaters, the BPE/packing
    Arrow passes) are cloudpickled BY REFERENCE — the worker must import
    ``market_data_mining_project_spark`` itself. Local mode hides that
    (workers fork with the driver's environment); the first multi-executor
    run (local-cluster, r11) failed exactly those four entries with
    ModuleNotFoundError. Zipping the package once per context and
    ``addPyFile``-ing it makes the library self-shipping on a bare cluster
    — the same contract as ``spark-submit --py-files``, without requiring
    the package pre-installed on every worker (a pre-installed copy just
    shadows the shipped one; both are this exact code)."""
    sc = spark.sparkContext
    if _is_local(sc.master):
        return  # single-JVM: get_spark put the package on the workers' path
    if getattr(sc, "_graft_pkg_shipped", False):
        return
    import atexit
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    staging = tempfile.mkdtemp(prefix="mdmp_pyfiles_")
    # Spark copies the zip into its own file server dir on addPyFile, so
    # the staging copy can go when the process exits (not before: executors
    # joining late re-fetch from the file server, not from here)
    atexit.register(shutil.rmtree, staging, True)
    zip_path = shutil.make_archive(
        os.path.join(staging, "market_data_mining_project_spark"),
        "zip",
        root_dir=os.path.dirname(pkg_dir),
        base_dir=os.path.basename(pkg_dir),
    )
    sc.addPyFile(zip_path)
    sc._graft_pkg_shipped = True


def get_spark(app_name: str = "market-data-mining-spark", **overrides: str) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``overrides`` take precedence; master comes from ``$SPARK_MASTER`` or
    ``local[N]`` where N = ``$SPARK_GRAFT_CPUS`` (default ``local[*]``).

    A local master's Python workers start in the JVM's working directory
    with Spark's own path, not the driver's ``sys.path``, so UDFs pickled
    by reference could not import this package from any other directory:
    the package's parent directory goes on the workers' ``PYTHONPATH``,
    ahead of any value the caller set.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    master = os.environ.get("SPARK_MASTER", f"local[{cpus}]" if cpus else "local[*]")
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = {**_DEFAULTS, **{k: str(v) for k, v in overrides.items()}}
    if _is_local(master):
        key = "spark.executorEnv.PYTHONPATH"
        parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        conf[key] = os.pathsep.join(p for p in (parent, conf.get(key)) if p)
    for key, value in conf.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark
