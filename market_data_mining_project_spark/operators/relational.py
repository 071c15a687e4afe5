"""Schema-generic relational operators (SURVEY.md §2.2–§2.8).

Each function is a thin, composable DataFrame transform that stays fully
declarative so Catalyst keeps predicate pushdown, column pruning and top-k
(`TakeOrderedAndProject`) optimizations. The reference implements these as
hand-written SQL strings / Django querysets (citations inline); at 100 TB the
key property is that *none* of these force a collect, a Python row loop, or
an unnecessary shuffle.

Scale notes
-----------
- ``top_n`` compiles to TakeOrderedAndProject — no global sort of the fact
  table, each partition keeps n rows then the driver merges n×partitions.
- ``paginate`` uses sort + offset/limit; deep pagination on a fact table is a
  driver-side anti-pattern at scale — prefer keyset pagination (also
  provided) which pushes a range predicate into the scan instead.
- ``dedup_keep_max`` is a single window shuffle on the dedup key; equivalent
  to the reference's ``DELETE ... NOT IN (SELECT MAX(id) ... GROUP BY ...)``
  (clean_transactions.py) without the O(n²) anti-join.
- ``ntile_score_histogram`` is the one exact NTILE the catalog runs: any
  number of metrics in one stacked histogram-rank pass, no window over the
  whole frame. ``ntile_score`` (one global window, one task) is the
  reference the tests compare it against.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

from market_data_mining_project_spark.functions.expressions import icontains

# --- Projections / predicates (P1–P7) ---------------------------------------


def project(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """Column projection (P1) — Catalyst prunes the parquet ReadSchema."""
    return df.select(*columns)


def filter_ranges(df: DataFrame, ranges: Mapping[str, tuple[float | None, float | None]]) -> DataFrame:
    """Generic ``*_min/_max`` range filter map (P2; reference views.py:1288-1316).

    Predicates are ANDed and push down to the parquet row-group stats.
    """
    for col, (lo, hi) in ranges.items():
        if lo is not None:
            df = df.filter(F.col(col) >= lo)
        if hi is not None:
            df = df.filter(F.col(col) <= hi)
    return df


def filter_isin(df: DataFrame, col: str, values: Sequence) -> DataFrame:
    """Equality/IN predicate (P3)."""
    return df.filter(F.col(col).isin(list(values)))


def search(df: DataFrame, needle: str, columns: Sequence[str]) -> DataFrame:
    """OR-combined case-insensitive substring search over ``columns``
    (P5; reference views.py:1247-1284). Numeric needles additionally match
    numeric columns by equality, mirroring the reference's dispatch."""
    preds: list[Column] = []
    numeric = None
    try:
        numeric = float(needle)
    except ValueError:
        pass
    # exact dtype tokens, not prefixes: "interval day to second" startswith
    # "int" and would take the equality branch straight into an
    # interval == double AnalysisException
    numeric_types = ("tinyint", "smallint", "int", "bigint", "float", "double")
    types = dict(df.dtypes)

    def _is_numeric(t: str) -> bool:
        return t in numeric_types or t.startswith("decimal(")

    for col in columns:
        if types.get(col) in ("string",):
            preds.append(icontains(F.col(col), needle))
        elif numeric is not None and _is_numeric(types.get(col, "")):
            # only NUMERIC columns take the equality branch — comparing a
            # float needle against date/timestamp/boolean columns has no
            # coercion and fails analysis
            preds.append(F.col(col) == numeric)
    if not preds:
        return df.limit(0)
    combined = preds[0]
    for p in preds[1:]:
        combined = combined | p
    return df.filter(combined)


# --- Sorts / limits / pagination (O1–O6) -------------------------------------


def top_n(df: DataFrame, n: int, by: Sequence[Column | str], ascending: bool = False) -> DataFrame:
    """Top-N by measure (O1; reference ``TOP k ... ORDER BY`` views.py:891-918).

    Callers should include a unique tiebreaker column for determinism.
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in by]
    ordered = [c.asc() if ascending else c.desc() for c in cols]
    return df.orderBy(*ordered).limit(n)


def paginate(df: DataFrame, order: Sequence[Column], page: int, page_size: int) -> DataFrame:
    """Offset pagination (O4; reference views.py:1337-1350).

    Fine for UI-depth pages; for deep scans use :func:`keyset_page`.
    """
    return df.orderBy(*order).offset(page * page_size).limit(page_size)


def keyset_page(df: DataFrame, key: str, after: float | int | None, page_size: int) -> DataFrame:
    """Keyset (seek) pagination: ``WHERE key > after ORDER BY key LIMIT n``.

    Unlike offset pagination this pushes the predicate into the scan, so page
    1000 costs the same as page 1 — the scalable idiom for 100 TB exports.
    """
    if after is not None:
        df = df.filter(F.col(key) > after)
    return df.orderBy(F.col(key).asc()).limit(page_size)


# --- Dedup / distinct (U1–U2, A13) -------------------------------------------


def dedup_keep_max(df: DataFrame, keys: Sequence[str], tiebreak: str | Sequence[str]) -> DataFrame:
    """Keep the max-``tiebreak`` row per key group (U2/A13; reference
    clean_transactions.py / remove_duplicates.py keep ``MAX(id)``).

    ``tiebreak`` accepts multiple columns; pass enough to make the winner
    unique per group, else the kept row is nondeterministic across engines.
    One shuffle on ``keys``; survives skew via AQE. For the 100 TB variant
    prefer pre-bucketed storage on the dedup key so this is shuffle-free.
    """
    tiebreaks = [tiebreak] if isinstance(tiebreak, str) else list(tiebreak)
    w = Window.partitionBy(*keys).orderBy(*[F.col(t).desc() for t in tiebreaks])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: Mapping[str, tuple[str, str]],
    salt_buckets: int = 16,
    salt_col: str | None = None,
) -> DataFrame:
    """Skew-resistant aggregation: salt → partial agg → final agg.

    ``aggs`` maps output name → (function, column) for decomposable
    functions (sum/count/min/max/count_distinct). A hot key (one customer
    with 10⁹ rows) overwhelms its single reducer in a plain groupBy; salting
    splits it across ``salt_buckets`` partial aggregates first, so no
    reducer sees more than 1/salt_buckets of the hot key. Results are
    identical to the unsalted groupBy (the oracle checks exactly that).
    AQE's skew handling covers joins; aggregation skew still needs this.

    ``count_distinct`` requires ``salt_col`` to be the counted column: each
    distinct value then lands in exactly one salt bucket, so per-bucket
    distinct counts sum to the true distinct count.
    """
    partial_fns = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max,
                   "count_distinct": F.countDistinct}
    final_fns = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max,
                 "count_distinct": F.sum}
    for out, (fn, col) in aggs.items():
        if fn == "count_distinct" and col != salt_col:
            raise ValueError(
                f"count_distinct({col!r}) needs salt_col={col!r} so each "
                "distinct value maps to one bucket"
            )
    if salt_col is not None:
        salt = F.pmod(F.crc32(F.col(salt_col).cast("string")), F.lit(salt_buckets))
    else:
        # salt from ROW CONTENT, never monotonically_increasing_id: a
        # nondeterministic expression feeding a shuffle re-salts rows on
        # task retry, so a mix of old and recomputed map outputs can count
        # a row twice or zero times. Content hashing is retry-stable;
        # its one caveat — byte-identical duplicate rows share a bucket —
        # bounds bucket skew by the duplication factor, not the key's.
        salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt_buckets))
    salted = df.withColumn("__salt", salt)
    partial = salted.groupBy(*keys, "__salt").agg(
        *[partial_fns[fn](col).alias(out) for out, (fn, col) in aggs.items()]
    )
    return partial.groupBy(*keys).agg(
        *[final_fns[fn](out).alias(out) for out, (fn, _col) in aggs.items()]
    )


# --- Windows (W1–W4) ----------------------------------------------------------


def stratified_sample(
    df: DataFrame, bucket: Column, per_bucket: int, order_key: Column
) -> DataFrame:
    """Stratified sampling: ``ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY
    order_key) <= per_bucket`` (W1; reference ml_models.py:294-311).

    The reference orders by ``NEWID()``; pass a seeded ``F.rand(seed)`` or a
    deterministic hash column for reproducibility (SURVEY §7.4.2).
    """
    w = Window.partitionBy(bucket).orderBy(order_key)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= per_bucket)
        .drop("__rn")
    )


def lag_diff(df: DataFrame, partition: str, order: str, out: str = "gap") -> DataFrame:
    """Per-group consecutive difference (W2; reference purchase-gap
    ``groupby('household_key')['day'].diff()``, analytics.py:483-486)."""
    w = Window.partitionBy(partition).orderBy(order)
    return df.withColumn(out, F.col(order) - F.lag(order).over(w))


def ntile_score(
    df: DataFrame, metric: Column, n: int, out: str, tiebreak: Column, descending: bool = False
) -> DataFrame:
    """Quantile scoring 1..n via NTILE with a deterministic tiebreaker
    (W3/W4; reference ``pd.qcut(... .rank(method='first'))``,
    analytics.py:223-230).

    Global-order window: ONE task sorts the whole frame. The reference the
    tests compare :func:`ntile_score_histogram` against — the same scores
    with no single-task sort over the data frame."""
    order = [metric.desc() if descending else metric.asc(), tiebreak.asc()]
    return df.withColumn(out, F.ntile(n).over(Window.orderBy(*order)))


#: Internal columns of :func:`ntile_score_histogram`, reserved in its input
#: so that no caller column can be confused with one in its joins and drops.
_NTILE_RESERVED = frozenset(
    {"__key", "__m", "__v", "__cnt", "__wm", "__wv", "__base", "__n", "__rn", "__tile"}
)


def ntile_score_histogram(
    df: DataFrame,
    scores: Mapping[str, str],
    n: int,
    key: str,
    descending: bool = False,
) -> DataFrame:
    """Distributed exact NTILE for any number of metrics in one pass:
    ``scores`` maps each numeric metric column to its output column, and
    every output equals :func:`ntile_score` over that metric (same
    ``ORDER BY metric, key ASC`` rank, same SQL NTILE bucket arithmetic)
    with NO unpartitioned window over the data frame.

    The global rank decomposes: rank(row) = (# rows strictly before this
    row's metric VALUE) + (row_number within the value, ordered by the
    key). The metrics ``stack`` to (metric, value) rows, so ONE hash
    aggregate builds every metric's counting histogram, ONE walk window
    partitioned by metric turns it into the first term (the
    :func:`...sketches.value_histogram` move) and ONE window partitioned by
    (metric, value) gives the second. NTILE(n) is then pure arithmetic on
    (rank, total): the first ``total mod n`` buckets take ``⌈total/n⌉``
    rows, the rest ``⌊total/n⌋`` — SQL-standard, matching Spark/DuckDB.
    The tiles pivot back with one ``groupBy(key)`` and a null-safe join.

    Preconditions:

    - ``key`` is unique per row: scores re-attach by joining on it.
    - Values are stacked as DOUBLE, which preserves order and equality for
      integers and money below 2^53. A non-numeric metric raises
      ``ValueError`` here, at call time.
    - ``descending`` applies to every metric of the call.
    - An output column replaces an input column of the same name.

    Bounds: the walk is over the HISTOGRAM (≤ |distinct values| rows per
    metric — days, counts, cents grades: ~10³–10⁶), never the data frame;
    the within-value window inherits the metric's tie skew (a value shared
    by m rows sorts m rows in one task — rank(method='first') semantics
    make that tie order irreducible). NULL metrics sort first (asc) / last
    (desc), matching the window path's default null ordering. A metric
    whose distinct count approaches |rows| (an unquantized continuous
    column) makes its walk partition data-sized: quantize such metrics
    first, or use :func:`...rfm.quantile_edge_scores`-style edge bucketing.
    """
    reserved = _NTILE_RESERVED & set(df.columns)
    if reserved:
        raise ValueError(
            f"ntile_score_histogram: input columns {sorted(reserved)} collide "
            f"with reserved internals {sorted(_NTILE_RESERVED)}; rename them first"
        )
    schema = df.schema
    bad = [
        f"{m} {schema[m].dataType.simpleString()}"
        for m in scores
        if not isinstance(schema[m].dataType, NumericType)
    ]
    if bad:
        raise ValueError(f"ntile_score_histogram: non-numeric metrics {bad}")
    stacked = df.select(
        F.col(key).alias("__key"),
        F.stack(
            F.lit(len(scores)),
            *[c for m in scores for c in (F.lit(m), F.col(m).cast("double"))],
        ).alias("__m", "__v"),
    )
    hist = stacked.groupBy("__m", "__v").agg(F.count(F.lit(1)).alias("__cnt"))
    v = F.col("__v")
    # windows over the HISTOGRAM only — ≤ |distinct values| narrow rows per
    # metric, never the data frame
    w_cum = (
        Window.partitionBy("__m")
        .orderBy(v.desc_nulls_last() if descending else v.asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("__m").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    walk = hist.select(
        F.col("__m").alias("__wm"),
        v.alias("__wv"),
        (F.sum("__cnt").over(w_cum) - F.col("__cnt")).alias("__base"),
        F.sum("__cnt").over(w_all).alias("__n"),
    )
    w_in = Window.partitionBy("__m", "__v").orderBy(F.col("__key").asc())
    # the walk aggregates the SAME stacked frame, so the inner join drops
    # no row; eqNullSafe so the NULL-value group reaches its walk row
    ranked = stacked.withColumn("__rn", F.row_number().over(w_in)).join(
        walk,
        (F.col("__m") == F.col("__wm")) & v.eqNullSafe(F.col("__wv")),
    )
    r = F.col("__base") + F.col("__rn").cast("long")
    total = F.col("__n").cast("long")
    q = F.lit(int(n)).cast("long")

    def idiv(x: Column, y: Column) -> Column:
        # exact long floor-division: bare `/` on longs is DOUBLE division,
        # whose half-ulp rounding can flip F.floor at quotients landing on
        # integers — subtracting the remainder first makes the quotient an
        # exact integer, which double division returns exactly (all real
        # totals sit far below 2^53)
        return ((x - x % y) / y).cast("long")

    b = idiv(total, q)  # small-bucket size
    rem = total % q  # this many leading buckets hold b+1 rows
    threshold = rem * (b + 1)
    tile = F.when(r <= threshold, idiv(r - 1, b + 1) + 1).otherwise(
        # greatest(b,1): when total < n every rank falls in the when-branch
        # (threshold = total), but ANSI mode must never see a /0 literal
        rem + idiv(r - threshold - 1, F.greatest(b, F.lit(1))) + 1
    )
    tiles = (
        ranked.withColumn("__tile", tile.cast("int"))
        .groupBy("__key")
        .agg(
            *[
                F.max(F.when(F.col("__m") == m, F.col("__tile"))).alias(out)
                for m, out in scores.items()
            ]
        )
    )
    return (
        df.drop(*scores.values())
        .join(tiles, F.col(key).eqNullSafe(F.col("__key")))
        .drop("__key")
    )
