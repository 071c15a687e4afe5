"""Table loading for the driver's TPC-H-ish test data and generic parquet.

At 100 TB the fact tables (lineitem / transactions / events / documents)
should be read as partitioned parquet with predicate pushdown; dimension
tables (region, nation, part, customer, supplier) are broadcast-sized. This
module keeps loading declarative — parquet scans only — so Catalyst
retains pushdown, pruning and partition elimination.

Every parquet read in the package goes through :func:`read_parquet`, which
infers a path's schema once per file version: a plain
``spark.read.parquet`` starts a footer-schema Spark job on every call, and a
long-lived session serving the same tables pays it again on each call.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TEST_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def path_signature(path: str) -> tuple:
    """Cheap staleness probe for one parquet path: (name, size, mtime_ns)
    of the path itself plus, for a directory dataset, of each of its
    entries one level down. A wholesale replace and a partition-level
    rewrite (dynamic partition overwrite of one ``date=…/`` subdirectory
    leaves the dataset directory's own mtime untouched on POSIX but
    updates the partition directory's) both change it. Residual: a
    rewrite two levels down that preserves every level-1 entry's mtime
    slips past; replacing any file updates its parent directory's mtime,
    so that takes deliberate back-dating. Raises ``OSError`` for a
    missing path."""
    st = os.stat(path)
    sig = [("", st.st_size, st.st_mtime_ns)]
    if os.path.isdir(path):
        with os.scandir(path) as it:
            for entry in sorted(it, key=lambda e: e.name):
                est = entry.stat()
                sig.append((entry.name, est.st_size, est.st_mtime_ns))
    return tuple(sig)


# SparkSession -> {realpath: (path_signature, inferred schema)}: one entry
# per path, replaced when the signature moves. Per session because
# inference reads session conf (binaryAsString, timestamp inference), and
# weak so a stopped session's memo goes with it. Unlocked: two threads
# racing on one path at worst both infer it.
_SCHEMA_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Lazy parquet scan of ``path`` that infers its schema with Spark once
    per file version. The first read of a path version is a plain
    ``spark.read.parquet`` (its footer-schema job included); later reads
    of the same (realpath, :func:`path_signature`) pass that schema back,
    so Spark starts no job until an action. A rewritten file changes the
    signature and is inferred again. Missing and remote paths always take
    the plain read, so their errors are Spark's own."""
    key = sig = None
    if "://" not in path:
        try:
            key, sig = os.path.realpath(path), path_signature(path)
        except OSError:
            key = None
    memo = _SCHEMA_MEMO.setdefault(spark, {})
    hit = memo.get(key) if key is not None else None
    if hit is not None and hit[0] == sig:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    if key is not None:
        memo[key] = (sig, df.schema)
    return df


# events.parquet has shipped with two physical encodings of `ts` over time:
#   * TIMESTAMP(NANOS) / raw int64 nanos — Spark's footer conversion rejects
#     TIMESTAMP(NANOS) outright, so those files must be read with a forced
#     `ts: long` schema and re-derived as a micros timestamp (integer `div`).
#   * TIMESTAMP(MICROS) — a plain read yields correct values; forcing LongType
#     there would misinterpret micros as nanos (events collapse into Jan 1970).
# The loader inspects the parquet footer once per path (cached) and picks the
# matching schema, so either vintage of the testdata reads correctly.
def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


# (probe file, mtime_ns, size) → is-nanos: keyed on the footer file's
# signature, not the path alone — an in-process rewrite of events.parquet
# to the OTHER ts encoding must re-probe instead of serving the stale
# answer and silently collapsing every timestamp toward 1970 (the same
# mid-process-rewrite contract persistence's data_version memo keeps)
_TS_PROBE_MEMO: dict[tuple[str, int, int], bool] = {}


def events_ts_is_nanos(path: str) -> bool:
    """True when the parquet footer declares `ts` with PHYSICAL int64 in a
    nanosecond (or raw int64) encoding — the vintages that need the
    forced-long + div-1000 workaround because Spark cannot read
    INT64/TIMESTAMP(NANOS) natively. False for the directly-readable
    encodings, INCLUDING physical INT96: pyarrow also reports INT96 as
    timestamp[ns], but Spark reads INT96 natively and a forced-long schema
    on it fails the scan — so the physical type must break the tie.
    Footer-only — no data read; memoized per footer-file signature."""
    import glob as _glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    probe = path
    if os.path.isdir(path):  # partitioned dataset: any one footer is representative
        # recursive: partition-subdirectory layouts (day=.../part-*.parquet)
        # have no top-level .parquet entries
        files = sorted(
            _glob.glob(os.path.join(_glob.escape(path), "**", "*.parquet"), recursive=True)
        )
        if not files:
            raise FileNotFoundError(f"no .parquet footer file found under {path}")
        probe = files[0]
    st = os.stat(probe)
    key = (probe, st.st_mtime_ns, st.st_size)
    hit = _TS_PROBE_MEMO.get(key)
    if hit is not None:
        return hit
    pf = pq.ParquetFile(probe)
    ts_type = pf.schema_arrow.field("ts").type
    if pa.types.is_int64(ts_type):
        nanos = True
    elif pa.types.is_timestamp(ts_type) and ts_type.unit == "ns":
        idx = pf.schema_arrow.get_field_index("ts")
        nanos = pf.schema.column(idx).physical_type == "INT64"
    else:
        nanos = False
    _TS_PROBE_MEMO[key] = nanos
    return nanos


def events_read_schema(path: str) -> tuple[T.StructType, bool]:
    """(forced read schema, needs nanos→micros conversion) for this path."""
    nanos = events_ts_is_nanos(path)
    return _events_schema(T.LongType() if nanos else T.TimestampType()), nanos


def nanos_to_micros_ts(col: str = "ts"):
    """Integer `div` — a float `/1000` loses precision (2024 nanos ≈ 1.7e18,
    beyond double's 2^53 exact-integer range → ±1µs drift)."""
    return F.timestamp_micros(F.expr(f"{col} div 1000"))


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = table_path(sf_dir, "events")
    schema, nanos = events_read_schema(path)
    raw = spark.read.schema(schema).parquet(path)
    return raw.withColumn("ts", nanos_to_micros_ts("ts")) if nanos else raw


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one table — projection/filters push down later."""
    if name == "events":
        return load_events(spark, sf_dir)
    return read_parquet(spark, table_path(sf_dir, name))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TEST_TABLES}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TEST_TABLES) -> None:
    """Register temp views so queries can also be expressed in Spark SQL."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def parquet_rows(*paths: str) -> int:
    """Rows in the local parquet ``paths`` (each a file, or a directory of
    part files at any depth), summed from their footers: no Spark job, and
    the same answer whatever the session has cached. Footer reads cost
    ~1 ms/file on local disk."""
    import pyarrow.parquet as pq

    files = []
    for p in paths:
        if os.path.isdir(p):
            files += [
                os.path.join(d, f)
                for d, _, fs in os.walk(p)
                for f in fs
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            ]
        else:
            files.append(p)
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
