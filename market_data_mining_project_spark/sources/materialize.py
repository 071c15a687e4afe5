"""Materialized layouts: partitioned / bucketed tables (SURVEY.md §4).

The reference tunes SQL Server with hand-built indexes on filter/sort keys
(``Website/market/dunnhumby/models.py:153-157,183-189``). The Spark
equivalents are *storage layout* decisions, and they are the single biggest
lever at 100 TB:

- **partitionBy(date/day-bucket)** → partition pruning: a ``day BETWEEN``
  predicate skips whole directories before any IO.
- **bucketBy(N, join-key) + sortBy** → co-located, pre-sorted joins and
  aggregations: two tables bucketed on the same key by the same N join with
  ZERO shuffle (no Exchange in the plan), and groupBy on the bucket key
  skips the exchange too. This is what replaces the reference's
  "index on (household_key, day)".

The derived-table refresh pattern (reference BasketAnalysis /
CustomerSegment caches, views.py:85-121) is ``overwrite_table`` below:
recompute → atomic overwrite.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from market_data_mining_project_spark.sources.tables import read_parquet

_DERIVED_DIRS: list[str] = []


@atexit.register
def _cleanup_derived_dirs() -> None:  # pragma: no cover - exit hook
    for d in _DERIVED_DIRS:
        shutil.rmtree(d, ignore_errors=True)


def derived_table(
    spark: SparkSession,
    cache: dict[str, str],
    sf_dir: str,
    prefix: str,
    build: Callable[[], DataFrame],
    persist_version: str | None = None,
) -> DataFrame:
    """Shared derived table (the reference's SQL-Server-side result caches,
    views.py:85-121): build once per (realpath'd) sf_dir, overwrite to
    parquet, serve every later consumer one columnar scan. Keys normalize
    through ``os.path.realpath`` so '/x' and '/x/' (or a symlink) share one
    materialization.

    Without ``persist_version`` the materialization is SESSION-scoped: a
    temp dir registered for atexit cleanup (data rewritten on disk
    mid-process needs a new session or ``cache.clear()`` — the same
    contract as Spark's own ``DataFrame.cache``).

    With ``persist_version`` (a ``ml.persistence.data_version`` fingerprint
    of the table's inputs) the materialization lands in the model-cache
    root keyed on (name, version) and SURVIVES the process — a later
    session serves the frame without re-running the build, and a data
    rewrite changes the version so staleness is impossible (the same
    load-or-train contract the classifier models have). Writes use the
    staging-dir + atomic-rename pattern; a concurrent builder losing the
    rename race adopts the winner's (input-identical) artifact.

    The in-memory hit is keyed on (realpath, persist_version): a caller
    whose recomputed fingerprint changed (data_version_cached detects
    mid-process rewrites) must MISS the memo and load/build the new
    version — keying on the path alone would serve the stale
    materialization before the version was ever consulted. Every serve is
    a :func:`~market_data_mining_project_spark.sources.tables.read_parquet`,
    so a repeat call infers no schema and starts no Spark job.
    """
    key = f"{os.path.realpath(sf_dir)}|{persist_version or ''}"
    path = cache.get(key)
    if path is not None:
        return read_parquet(spark, path)
    if persist_version is not None:
        from market_data_mining_project_spark.ml import persistence as PERSIST

        final = PERSIST.model_dir(f"derived_{prefix.rstrip('_')}", persist_version)
        data_path = os.path.join(final, "t")
        if not os.path.isdir(data_path):
            # first-wins, no pre-delete: `final` only ever appears via the
            # atomic rename, so it can only exist COMPLETE — and a
            # concurrent session already reading the winner's files must
            # never see them vanish under its scan
            PERSIST.publish_staged(
                final,
                lambda staging: overwrite_table(build(), os.path.join(staging, "t")),
                overwrite=False,
            )
        cache[key] = data_path
        return read_parquet(spark, data_path)
    tmp = tempfile.mkdtemp(prefix=prefix)
    _DERIVED_DIRS.append(tmp)
    path = os.path.join(tmp, "t")
    overwrite_table(build(), path)
    cache[key] = path
    return read_parquet(spark, path)


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite") -> None:
    """Directory-partitioned parquet: range/equality predicates on
    ``partition_cols`` prune whole partitions at plan time."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed (and optionally sorted) managed table.

    Joins/aggregations keyed on ``bucket_col`` between tables bucketed with
    the same ``n_buckets`` execute shuffle-free (SortMergeJoin with no
    Exchange). Bucketing requires ``saveAsTable`` (the bucket metadata lives
    in the catalog, not the parquet footer).
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table)


def overwrite_partitions(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Incremental ingestion: overwrite ONLY the partitions present in ``df``
    (dynamic partition overwrite), leaving all others untouched — the
    idempotent daily-backfill idiom. Static mode (the default) would wipe
    the whole table first.
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def overwrite_table(df: DataFrame, path: str, format: str = "parquet") -> None:
    """Derived-table refresh (reference's delete-all-then-recreate,
    analytics.py:294-313) as one atomic columnar overwrite. ``format``
    accepts any columnar source Spark ships ("parquet", "orc") — both carry
    column stats so predicate pushdown and pruning work identically."""
    df.write.mode("overwrite").format(format).save(path)


def plan_has_shuffle(df: DataFrame) -> bool:
    """True if the physical plan contains a *shuffle* exchange (hash/range/
    round-robin repartitioning or a SinglePartition collapse).
    BroadcastExchange is NOT a shuffle — broadcasting a dim table is the
    desired plan, not a co-location failure (the ``\\b`` cannot match inside
    the word ``BroadcastExchange``)."""
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    return bool(re.search(r"\bExchange (hash|range|RoundRobin)?[Pp]artitioning|\bExchange SinglePartition", plan))


def colocated_join(
    spark: SparkSession, left_table: str, right_table: str, key: str
) -> DataFrame:
    """Join two same-bucketed catalog tables on their bucket key — plans as
    a zero-shuffle SortMergeJoin when bucket specs match. The merge hint
    stops the planner from choosing broadcast (which would also disable the
    bucketed scan); at real scale both sides are too big to broadcast and
    the hint is unnecessary."""
    left = spark.table(left_table).hint("merge")
    right = spark.table(right_table).hint("merge")
    return left.join(right, key)
