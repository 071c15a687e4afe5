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

import os
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from market_data_mining_project_spark.sources.tables import read_parquet

# artifact path -> the lock its first builders serialize on (setdefault
# is one atomic dict operation, so two callers always get the same lock)
_BUILD_LOCKS: dict[str, threading.Lock] = {}


def derived_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build: Callable[[], DataFrame],
    tables: tuple[str, ...] = ("lineitem", "orders", "part"),
) -> DataFrame:
    """Shared derived table (the reference's SQL-Server-side result caches,
    views.py:85-121): build once per data version, publish to parquet,
    serve every later consumer one columnar scan.

    The artifact path is a pure function of (model-cache root, ``name``,
    ``ml.persistence.data_version(sf_dir, tables)``), so it is found on
    disk by every call, in this process or a later one: nothing remembers
    it. ``tables`` must cover every input the build reads; a data rewrite
    changes the version, so a stale frame is never served, and moving the
    cache root (``SPARK_GRAFT_MODEL_DIR``) builds under the new root.

    A missing artifact is built under one lock per path, so concurrent
    callers (a background fit and a foreground entry) build it once, and
    published first-wins: ``final`` only ever appears via the atomic
    rename, so it exists complete, and a session already reading the
    winner's files never sees them vanish. A build must not wait on a
    thread that reads the same derived table. Every serve is a
    :func:`~market_data_mining_project_spark.sources.tables.read_parquet`,
    so a repeat call infers no schema and starts no Spark job.
    """
    from market_data_mining_project_spark.ml import persistence as PERSIST

    final = PERSIST.model_dir(f"derived_{name}", PERSIST.data_version(sf_dir, tables))
    data_path = os.path.join(final, "t")
    if not os.path.isdir(data_path):
        with _BUILD_LOCKS.setdefault(final, threading.Lock()):
            if not os.path.isdir(data_path):
                PERSIST.publish_staged(
                    final,
                    lambda staging: overwrite_table(build(), os.path.join(staging, "t")),
                    overwrite=False,
                )
    return read_parquet(spark, data_path)


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
