"""Streaming pipelines over the ``events`` table.

The reference has no streaming surface (SURVEY.md §2.10: batch-only,
integer-day time), but a 100 TB ingestion pipeline needs one. These
operators run identically as a bounded backfill (``trigger(availableNow)``
over existing parquet) and as an unbounded live stream — the plan is the
same; only the source/trigger differ. That replay/live symmetry is the
Structured Streaming design point.

- :func:`windowed_event_stats` — tumbling event-time windows + watermark:
  late rows beyond the delay are dropped instead of growing state forever.
- :func:`sessionize_events` — built-in ``session_window`` (gap-based).
- :func:`running_user_totals` — custom stateful op via
  ``applyInPandasWithState`` (the escape hatch for semantics window/agg
  can't express; Arrow-batched, grouped state partitioned by user).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from market_data_mining_project_spark.sources.tables import (
    events_read_schema,
    nanos_to_micros_ts,
    table_path,
)


def read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the testdata events parquet. Streaming sources
    require an explicit schema, so we probe the parquet footer (shared with
    the batch loader, sources/tables.py) to read `ts` with its real physical
    type — int64-nanos files get the forced-long + div-1000 workaround,
    timestamp[us] files are read natively."""
    import os

    p = table_path(sf_dir, "events")
    schema, nanos = events_read_schema(p)
    if os.path.isdir(p):
        # directory-layout dataset (what any Spark writer produces): stream
        # the directory itself. A pathGlobFilter='events.parquet' here
        # would match LEAF file names — part-*.parquet never matches — and
        # the stream would silently read zero rows.
        raw = spark.readStream.schema(schema).parquet(p)
    else:
        # single-file layout: the glob filter picks the one file out of the
        # sf_dir without treating it as a directory source
        raw = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    return raw.withColumn("ts", nanos_to_micros_ts("ts")) if nanos else raw


def windowed_event_stats(
    stream: DataFrame, window: str = "1 day", watermark: str = "1 hour"
) -> DataFrame:
    """Watermarked tumbling-window aggregation. In append mode a window is
    emitted once the watermark (max event time − delay) passes its end —
    deterministic for a bounded replay."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "events",
            "total_value",
            "approx_users",
        )
    )


def sessionize_events(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Gap-based sessions per user via the built-in session window."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(F.count(F.lit(1)).alias("events"), F.round(F.sum("value"), 2).alias("session_value"))
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "events",
            "session_value",
        )
    )


_TOTALS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("events_seen", T.LongType()),
        T.StructField("value_total", T.DoubleType()),
    ]
)
_STATE_SCHEMA = "events_seen LONG, value_total DOUBLE"


def _update_totals(key, pdfs, state: GroupState):
    """Arrow-batched state update: accumulate per-user event count + value."""
    events = 0
    value = 0.0
    for pdf in pdfs:
        events += len(pdf)
        value += float(pdf["value"].fillna(0.0).sum())
    if state.exists:
        prev_events, prev_value = state.get
        events += prev_events
        value += prev_value
    state.update((events, value))
    yield pd.DataFrame(
        {"user_id": [key[0]], "events_seen": [events], "value_total": [round(value, 2)]}
    )


def running_user_totals(stream: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): running per-user
    totals emitted every micro-batch. The reference keeps comparable running
    state in Python dicts inside a cursor loop (views.py:461-479) — here the
    state is partitioned by user across executors and checkpointable."""
    return stream.groupBy("user_id").applyInPandasWithState(
        _update_totals,
        outputStructType=_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _with_content_key(df: DataFrame, time_col: str) -> DataFrame:
    """Attach the canonical payload content key (md5 over the JSON-struct
    serialization of every non-time column). ONE definition shared by the
    stream dedup and the batch reconciliation sweep — their correctness
    depends on byte-identical key semantics, so the construction must not
    exist twice. to_json(struct(...)) keeps NULLs distinguishable from
    empty strings and no separator can collide adjacent fields (concat_ws
    would conflate both)."""
    payload = [c for c in df.columns if c != time_col]
    return df.withColumn("__content_key", F.md5(F.to_json(F.struct(*payload))))


def streaming_dedup(
    stream: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "1 hour",
    time_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup: keep the first arrival per key, with state
    bounded by the watermark (``dropDuplicatesWithinWatermark`` — keys older
    than the delay are evicted, so state never grows unbounded). This is the
    ingestion-side twin of :func:`operators.dedup.exact_dedup`: dedup at
    ingest with bounded state, then :func:`reconcile_dedup_sink` sweeps the
    sink to catch anything that slipped across watermark horizons (tested
    end-to-end in test_cross_watermark_dedup_reconciliation).

    Default key = the content hash of the payload columns, the
    training-data-pipeline shape (drop replayed/duplicated events before
    they reach the corpus).
    """
    drop_after = []
    if keys is None:
        stream = _with_content_key(stream, time_col)
        keys = drop_after = ["__content_key"]
    out = stream.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(keys)
    return out.drop(*drop_after) if drop_after else out


def reconcile_dedup_sink(
    sink: DataFrame, time_col: str = "ts", keys: list[str] | None = None
) -> DataFrame:
    """Periodic batch reconciliation for :func:`streaming_dedup` — the
    promised composed pipeline: dedup at ingest with watermark-bounded state,
    then sweep the sink with an exact batch dedup to catch duplicates that
    arrived in DIFFERENT watermark horizons (the stream operator's state for
    a key is evicted once the watermark passes its event time + delay, so a
    replay hours later is re-emitted by design — unbounded state is the
    alternative, and at 100 TB it isn't one).

    Same default key as the stream side (content hash of the payload columns,
    ``time_col`` excluded), keeping the EARLIEST arrival — one shuffle on the
    digest, the :func:`operators.dedup.exact_dedup` shape. Ties on the
    timestamp break on a hash of the FULL row, so which duplicate survives
    is a pure function of the data, never of partitioning (with the default
    content key the tied rows are byte-identical anyway; with user keys
    they may differ, and a bare time ordering would keep a
    run-dependent row). Run it over the sink table on whatever cadence the
    corpus tolerates (e.g. daily partition-scoped sweeps via
    ``overwrite_partitions``)."""
    from pyspark.sql import Window

    drop_after = []
    if keys is None:
        sink = _with_content_key(sink, time_col)
        keys = drop_after = ["__content_key"]
    tiebreak = F.xxhash64(*[F.col(c) for c in sink.columns])
    w = Window.partitionBy(*keys).orderBy(F.col(time_col).asc(), tiebreak.asc())
    out = (
        sink.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return out.drop(*drop_after) if drop_after else out


def enrich_stream(
    stream: DataFrame, dim: DataFrame, on, how: str = "left"
) -> DataFrame:
    """Stream-static enrichment join: every micro-batch joins the static
    dimension frame — the standard ingest-time enrichment shape (attach
    user/item/tenant attributes before windowed aggregation, so downstream
    state is keyed on enriched columns instead of re-joining later).

    Structured Streaming re-evaluates the static side per micro-batch, so a
    dim refreshed on disk is picked up without restarting the query. The
    dim is broadcast: stream-static joins cannot shuffle the unbounded
    side, and dims (customers, products) are broadcast-sized; for a
    too-big-to-broadcast static side, pre-bucket both sides on the join key
    (``sources/materialize.py``) or use a stream-stream join with
    watermarks instead."""
    return stream.join(F.broadcast(dim), on, how)


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    radius_secs: int,
    watermark: str = "1 hour",
    band_secs: int | None = None,
) -> DataFrame:
    """Stream-STREAM interval join: emit every (left, right) pair whose
    event times lie within ``±radius_secs`` — the live twin of the batch
    banded range join (``operators/temporal.range_join_count``), using the
    SAME banded-blocking idiom, which here is not merely an optimization:
    Structured Streaming refuses stream-stream joins without an equality
    predicate (state must hash-partition on something), and the band key
    IS that equality — left rows explode to their ⌈radius/band⌉·2+1
    candidate bands, right rows hash to their own band, and the exact
    ``|Δt| ≤ radius`` conjunct filters inside each band bucket.

    Both sides carry a watermark AND the join condition bounds right's
    time relative to left's, which is what lets the symmetric hash join
    evict state: a buffered right row is dropped once the left watermark
    passes ``right_ts + radius`` (and symmetrically), so state is bounded
    by ``rate × (watermark + radius)``, never the full stream history.
    Without the time-range conjunct the join would buffer both streams
    forever — the canonical unbounded-state mistake.

    Inner join: unmatched left rows are NOT emitted (stream-stream outer
    emission waits on the watermark); re-attach zero-match rows batch-side
    after the replay if the consumer needs them. ALL column names must be
    distinct between the two sides (both survive into the output — a
    shared name would produce an ambiguous-reference failure only at the
    first downstream select, far from the cause, so it is rejected here).
    Radius/band validation mirrors the batch twin exactly, incl.
    ``radius_secs=0`` as the co-timestamped query."""
    if left_ts == right_ts:
        raise ValueError("left_ts and right_ts must be distinct column names")
    shared = set(left.columns) & set(right.columns)
    if shared:
        raise ValueError(
            f"left/right streams share column names {sorted(shared)}; "
            "rename one side before the interval join (both sides' "
            "columns survive into the output)"
        )
    if radius_secs < 0:
        raise ValueError(f"radius_secs must be >= 0, got {radius_secs}")
    band = band_secs if band_secs is not None else max(radius_secs, 1)
    if band <= 0:
        raise ValueError(f"band_secs must be > 0, got {band_secs}")
    n_bands = -(-radius_secs // band)  # ceil
    lt, rt = F.col(left_ts).cast("long"), F.col(right_ts).cast("long")
    offsets = F.array(*[F.lit(i) for i in range(-n_bands, n_bands + 1)])
    lw = left.withWatermark(left_ts, watermark).withColumn(
        "__lband", F.explode(F.transform(offsets, lambda o: F.floor(lt / band) + o))
    )
    rw = right.withWatermark(right_ts, watermark).withColumn(
        "__rband", F.floor(rt / band)
    )
    r = F.lit(radius_secs)
    cond = (
        (F.col("__lband") == F.col("__rband"))
        & (rt >= lt - r)
        & (rt <= lt + r)
    )
    return lw.join(rw, cond, "inner").drop("__lband", "__rband")


def run_bounded(
    query_df: DataFrame,
    sink_table: str,
    checkpoint_dir: str,
    output_mode: str = "append",
    state_partitions: int | None = None,
    sink_path: str | None = None,
) -> None:
    """Execute a streaming plan as a bounded backfill: availableNow trigger,
    block until drained. Default sink is the in-memory table
    ``sink_table`` — inspection-friendly, but it does NOT support
    checkpoint RECOVERY (Spark refuses to resume a memory-sink query), so
    it is a single-replay surface. Pass ``sink_path`` to write a parquet
    FILE sink instead: exactly-once via the checkpoint + file manifest,
    and resuming the same checkpoint continues from the frozen state —
    the production shape (the resume contract is pytest-pinned in
    tests/test_streaming_io.py, including that ``state_partitions``
    stays at its first-batch value across a resume under a different
    session default).

    ``state_partitions`` sizes the stateful operators' state stores: the
    number of store instances per operator is ``spark.sql.shuffle.
    partitions`` AT THE FIRST BATCH, frozen into the checkpoint — and every
    instance pays fixed per-micro-batch open/commit/snapshot cost, so
    inheriting a batch-sized shuffle default is pure overhead when the
    stream's key cardinality is modest. The catalog's replays
    (``plans.pipeline_io._bounded``) take one partition per Arrow batch
    (10,000 rows) of their input, clamped to ``[1, defaultParallelism]``:
    at sf0.001 on 4 cores a ``streaming_window_stats`` replay took a
    median 1.9 s with 8 state partitions, 1.35 s with 4 and 1.1 s with 1,
    with identical output, while at sf1 a ``streaming_sessions`` replay
    needed 4 (13.0 s with 1, 5.5 s with 4). Production
    sizing follows expected peak key cardinality/throughput; None keeps the
    session default. The conf is set only around the stream start and
    restored after (the running query keeps the value it started with)."""
    spark = query_df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        w = (
            query_df.writeStream.queryName(sink_table)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
        )
        if sink_path is None:
            q = w.format("memory").start()
        else:
            q = w.format("parquet").option("path", sink_path).start()
        q.awaitTermination()
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
