"""Streaming / multimodal / CSV-IO queries — the ingestion-pipeline surface.

Streaming entries execute the *same plan* as a bounded backfill
(``trigger(availableNow)``) so the driver's batch-shaped contract
(fn(spark, sf_dir) → DataFrame) holds; in production the identical plan
runs unbounded. The DuckDB oracles replicate watermark emission semantics:
a window/session is emitted iff its end ≤ max event time − watermark delay.
"""

from __future__ import annotations

import atexit
import itertools
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from market_data_mining_project_spark.operators import multimodal as MM
from market_data_mining_project_spark.sources.tables import load_table, parquet_rows, table_path
from market_data_mining_project_spark.streaming import events as EV

_RUN_COUNTER = itertools.count()


_SCRATCH_DIRS: list[str] = []


@atexit.register
def _cleanup_scratch_dirs() -> None:  # pragma: no cover - exit hook
    for d in _SCRATCH_DIRS:
        shutil.rmtree(d, ignore_errors=True)


def _scratch_dir(prefix: str) -> str:
    """mkdtemp removed at exit so repeated catalog sweeps (bench-style
    long-lived processes) don't accumulate orphaned checkpoint/export dirs
    in /tmp."""
    d = tempfile.mkdtemp(prefix=prefix)
    _SCRATCH_DIRS.append(d)
    return d


# one live memory-sink generation per prefix (update-mode streams only —
# see _bounded); the previous sweep's table is dropped when replaced
_LIVE_SINKS: dict[str, str] = {}


def _state_partitions(rows: int, rows_per_partition: int, parallelism: int) -> int:
    """State partitions for a replay of ``rows`` input rows: one per
    ``rows_per_partition``, clamped to ``[1, parallelism]``."""
    return max(1, min(parallelism, -(-rows // rows_per_partition)))


def _bounded(df: DataFrame, sf_dir: str, prefix: str, output_mode: str = "append") -> DataFrame:
    """Run a streaming plan over ``sf_dir``'s events to completion and
    return its bounded output.

    Append-mode streams land in a parquet FILE sink inside an
    atexit-cleaned scratch dir — NOT a driver-memory table, so repeated
    catalog sweeps in one long-lived process (the bench shape) don't
    accumulate every replay's full output in driver memory (range_pairs
    alone holds the whole pair-join output). Update mode has no file sink
    in Spark, so it keeps the memory table but drops the PREVIOUS sweep's
    generation for the same prefix: one live generation per prefix (the
    prior result has been consumed by the time a sweep replays an entry).

    State partitions are sized to the replayed input, not the batch
    shuffle default (Spark turns AQE's coalescing off for stateful
    streams): one per Arrow batch (``spark.sql.execution.arrow.maxRecordsPerBatch``,
    10,000 rows) of event rows, clamped to ``[1, defaultParallelism]``.
    Every state-store instance pays fixed per-micro-batch open/commit
    cost whether or not it holds a key, and a stream whose state is
    updated in Python (applyInPandasWithState) gets a Python worker per
    partition. Measured on 4 cores, median of interleaved repeats in one
    session: at sf0.001 a ``streaming_window_stats`` replay took 1.9 s
    with 8 state partitions and 1.1 s with 1; at sf1 (1,000,000 event
    rows, which the rule gives 4) a ``streaming_sessions`` replay took
    13.0 s with 1, 5.5 s with 4 and 5.3 s with 8; at sf0.1 the
    Python-state replay took 7.2 s with 1 and 3.3 s with 4."""
    spark = df.sparkSession
    name = f"{prefix}_{next(_RUN_COUNTER)}"
    state_parts = _state_partitions(
        parquet_rows(table_path(sf_dir, "events")),
        int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")),
        spark.sparkContext.defaultParallelism,
    )
    if output_mode == "append":
        sink = _scratch_dir(f"sink_{name}_")
        EV.run_bounded(
            df, name, _scratch_dir(f"ck_{name}_"), output_mode,
            state_partitions=state_parts, sink_path=sink,
        )
        # explicit schema: a zero-row replay leaves no part files to infer from
        return spark.read.schema(df.schema).parquet(sink)
    EV.run_bounded(
        df, name, _scratch_dir(f"ck_{name}_"), output_mode,
        state_partitions=state_parts,
    )
    old = _LIVE_SINKS.get(prefix)
    if old is not None:
        spark.catalog.dropTempView(old)
    _LIVE_SINKS[prefix] = name
    return spark.table(name)


# --- Structured Streaming ------------------------------------------------------


def q_streaming_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window event stats, bounded replay (append mode:
    only watermark-finalized windows are emitted). Window start exported as
    epoch seconds — integers canonicalize identically everywhere, timestamps
    are engine-format dependent."""
    stream = EV.read_event_stream(spark, sf_dir)
    stats = EV.windowed_event_stats(stream, "1 day", "1 hour")
    out = _bounded(stats, sf_dir, "win_stats")
    # approx_count_distinct has no DuckDB twin — exactness is pytest-gated
    return out.select(
        F.col("window_start").cast("long").alias("window_start_epoch"),
        "event_type", "events", "total_value",
    )


SQL_STREAMING_WINDOW_STATS = """
WITH e AS (SELECT ts, event_type, value FROM events),
mx AS (SELECT MAX(ts) AS mx FROM e),
w AS (
  -- epoch_ms//1000: integer seconds (epoch() returns fractional double)
  SELECT (epoch_ms(ts) // 1000 // 86400) * 86400 AS window_start_epoch,
         event_type, value
  FROM e
)
SELECT window_start_epoch, event_type,
       COUNT(*) AS events,
       ROUND(SUM(value), 2) AS total_value
FROM w
-- pure integer-second comparison: to_timestamp() would be TIMESTAMPTZ and
-- session-timezone dependent; flooring mx to seconds preserves the
-- predicate because window ends are whole seconds
WHERE window_start_epoch + 86400 <= epoch_ms((SELECT mx FROM mx)) // 1000 - 3600
GROUP BY 1, 2
"""


def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based per-user sessionization (session_window, 30 min gap),
    bounded replay with the same watermark-finalization rule. Session bounds
    exported as epoch seconds (integer canonicalization)."""
    stream = EV.read_event_stream(spark, sf_dir)
    sess = EV.sessionize_events(stream, "30 minutes", "1 hour")
    return _bounded(sess, sf_dir, "sessions").select(
        "user_id",
        F.col("session_start").cast("long").alias("session_start_epoch"),
        F.col("session_end").cast("long").alias("session_end_epoch"),
        "events", "session_value",
    )


SQL_STREAMING_SESSIONS = """
WITH e AS (SELECT user_id, ts, value FROM events),
mx AS (SELECT MAX(ts) AS mx FROM e),
flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL THEN 1 ELSE 0 END AS new_s
  FROM e
), s AS (
  SELECT user_id, ts, value,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
), agg AS (
  SELECT user_id,
         MIN(ts) AS session_start,
         MAX(ts) + INTERVAL 30 MINUTE AS session_end,
         COUNT(*) AS events,
         ROUND(SUM(value), 2) AS session_value
  FROM s GROUP BY user_id, sid
)
SELECT user_id,
       epoch_ms(session_start) // 1000 AS session_start_epoch,
       epoch_ms(session_end) // 1000 AS session_end_epoch,
       events, session_value
FROM agg
WHERE session_end <= (SELECT mx FROM mx) - INTERVAL 1 HOUR
"""


def q_streaming_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream joins the broadcast
    customer dimension (market segment) BEFORE the watermarked tumbling
    window, so the windowed state is keyed on enriched attributes — the
    ingest-time enrichment shape. Bounded replay, append mode (only
    watermark-finalized windows) — deterministic, so it hash-oracles:
    SQL_STREAMING_ENRICHED replicates the join + window + finalization
    rule in DuckDB (r9; the slot came from the text_curation_audit merge).
    The replay additionally stays pytest-gated equal to the identical
    batch plan under the same watermark-finalization rule
    (tests/test_streaming_io.py::test_streaming_enrichment_equals_batch)."""
    stream = EV.read_event_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = EV.enrich_stream(stream, dim, "user_id", "left")
    stats = (
        enriched.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").cast("long").alias("window_start_epoch"),
            "c_mktsegment", "events", "total_value",
        )
    )
    return _bounded(stats, sf_dir, "enriched_stats")


#: Batch twin of the enriched windowed stream: broadcast dim join, 1-day
#: tumbling windows as integer-second floors, and the append-mode emission
#: rule (window end ≤ max event time − 1 h watermark). Every events user
#: exists in customer at every fixture SF, so the left join never emits a
#: NULL segment (checked; a NULL would still hash consistently on both
#: engines but is excluded by construction).
SQL_STREAMING_ENRICHED = """
WITH e AS (SELECT ts, user_id, value FROM events),
mx AS (SELECT MAX(ts) AS mx FROM e),
w AS (
  SELECT (epoch_ms(ts) // 1000 // 86400) * 86400 AS window_start_epoch,
         c.c_mktsegment, value
  FROM e LEFT JOIN customer c ON e.user_id = c.c_custkey
)
SELECT window_start_epoch, c_mktsegment,
       COUNT(*) AS events,
       ROUND(SUM(value), 2) AS total_value
FROM w
WHERE window_start_epoch + 86400 <= epoch_ms((SELECT mx FROM mx)) // 1000 - 3600
GROUP BY 1, 2
"""


def q_streaming_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM interval join (purchases ⨝ errors within ±15 min) —
    the live twin of the batch banded range join (`range_join_errors`):
    same pairs, same per-purchase aggregate, computed by Structured
    Streaming's watermark-evicted symmetric hash join instead of banded
    blocking. Pair emission is streaming; the per-purchase rollup and the
    zero-match re-attach run batch-side on the replayed sink, so the
    output is column-identical to the oracled batch entry — and the
    pytest gate asserts exact frame equality
    (tests/test_streaming_io.py::test_streaming_range_join_equals_batch).

    The replay watermark covers the whole data horizon — MEASURED from the
    data (one tiny batch min/max scan), not hardcoded, so the rule holds
    at any fixture scale: a bounded backfill reads historical files in
    arbitrary order, so any eviction-enabling watermark could drop state
    for rows that are "late" only because of file order — the standard
    backfill rule: watermark ≥ horizon, or feed event-time-ordered input.
    Live deployments use a real delay and get bounded state from the
    join's time-range condition. Rows-only (the 50-slot oracle window is
    full; the equality gate against the hash-oracled batch entry is the
    same strength)."""
    all_p = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.col("ts").cast("long").alias("ts_epoch"),
            "value",
        )
    )
    lo, hi = (
        load_table(spark, sf_dir, "events")
        .agg(F.min("ts").cast("long"), F.max("ts").cast("long"))
        .collect()[0]
    )
    if lo is None:
        # empty / fully-filtered events: no horizon to measure and nothing
        # to join — the empty frame with the real schema (the
        # bm25_topk degenerate-corpus rule), not a NoneType TypeError
        return all_p.select(
            "*",
            F.lit(0).cast("long").alias("n_errors_15min"),
            F.lit(0.0).alias("error_value_15min"),
        )
    horizon_days = int((hi - lo) // 86400) + 2
    stream = EV.read_event_stream(spark, sf_dir)
    purchases = stream.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("p_ts"), "value"
    )
    errors = stream.filter(F.col("event_type") == "error").select(
        F.col("ts").alias("e_ts"), F.col("value").alias("e_value")
    )
    joined = EV.interval_join_streams(
        purchases, errors, "p_ts", "e_ts",
        radius_secs=900, watermark=f"{horizon_days} days",
    )
    pairs = _bounded(joined, sf_dir, "range_pairs")
    agg = pairs.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_matched"),
        F.round(F.sum("e_value"), 2).alias("v_matched"),
    )
    return all_p.join(agg, "event_id", "left").select(
        "event_id",
        "user_id",
        "ts_epoch",
        "value",
        F.coalesce(F.col("n_matched"), F.lit(0)).cast("long").alias("n_errors_15min"),
        F.coalesce(F.col("v_matched"), F.lit(0.0)).alias("error_value_15min"),
    )


def q_running_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming op (applyInPandasWithState): running
    per-user totals. The update-mode memory sink holds one row per user
    per micro-batch; the CONVERGED state per user is the row with the
    maximal events_seen (the count is strictly monotone across updates —
    max_by picks the final value_total alongside it). Oracled: the
    converged stream state must equal the batch aggregate, which is the
    operator's correctness contract (the same gate the pytest asserts);
    per-update intermediate rows stay pytest-covered
    (tests/test_streaming_io.py)."""
    stream = EV.read_event_stream(spark, sf_dir)
    totals = EV.running_user_totals(stream)
    out = _bounded(totals, sf_dir, "user_totals", output_mode="update")
    return out.groupBy("user_id").agg(
        F.max("events_seen").alias("events_seen"),
        F.max_by("value_total", "events_seen").alias("value_total"),
    )


def q_streaming_state_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three stateful ingest paths per user in ONE oracled entry (r11 merge
    of ``running_user_totals`` + the formerly rows-only ``streaming_dedup``),
    tagged by ``grain``:

    - ``totals``: the applyInPandasWithState running per-user totals,
      converged state (the former ``running_user_totals`` entry, reused).
    - ``stream_dedup``: ``dropDuplicatesWithinWatermark`` over the event
      stream PLUS a deterministic replay slice — every 7th event re-sent
      payload-identical under a dropped event_id (the reference's
      clean-transactions keep-one semantics, SURVEY U2, lifted to event
      time). The watermark delay covers the whole fixture horizon (the
      backfill rule, same as the range-join replay), so no key is evicted
      mid-replay and the surviving set is exactly one event per distinct
      payload — deterministic, hence SQL-expressible.
    - ``batch_dedup``: :func:`streaming.events.reconcile_dedup_sink` — the
      periodic batch sweep the streaming dedup composes with — over the
      same replayed input.

    The two dedup grains run INDEPENDENT algorithms (watermark-scoped
    streaming state vs a batch window keep-earliest) that must agree
    row-for-row, and all three grains hash-check against one DuckDB twin
    (``DISTINCT`` over the payload columns ≡ the md5(to_json(payload))
    content key — the fixture has no NULL/NaN payload cells, and to_json is
    injective on the remaining values). Per-user rollups deliberately avoid
    ``ts``: which replica survives a dedup is ts-ambiguous under arrival
    order, but every non-ts column is part of the dedup key, so the rollup
    is representative-independent."""
    rollup = lambda df: df.groupBy("user_id").agg(  # noqa: E731
        F.count(F.lit(1)).alias("events_seen"),
        F.round(F.sum("value"), 2).alias("value_total"),
    )

    def tag(df: DataFrame, grain: str) -> DataFrame:
        return df.select(
            F.lit(grain).alias("grain"),
            F.col("user_id").cast("long").alias("user_id"),
            F.col("events_seen").cast("long").alias("events_seen"),
            F.col("value_total").cast("double").alias("value_total"),
        )

    totals = tag(q_running_user_totals(spark, sf_dir), "totals")

    ev = load_table(spark, sf_dir, "events")
    lo, hi = ev.agg(F.min("ts").cast("long"), F.max("ts").cast("long")).collect()[0]
    if lo is None:
        # empty events: nothing to replay — all three grains are empty with
        # the real schema (the bm25_topk degenerate-corpus rule)
        return totals
    horizon_days = int((hi - lo) // 86400) + 2

    stream = EV.read_event_stream(spark, sf_dir)
    replayed_stream = stream.drop("event_id").unionByName(
        stream.filter(F.col("event_id") % 7 == 0).drop("event_id")
    )
    deduped = EV.streaming_dedup(replayed_stream, watermark=f"{horizon_days} days")
    stream_leg = tag(rollup(_bounded(deduped, sf_dir, "dedup_audit")), "stream_dedup")

    replayed_batch = ev.drop("event_id").unionByName(
        ev.filter(F.col("event_id") % 7 == 0).drop("event_id")
    )
    swept = EV.reconcile_dedup_sink(replayed_batch, time_col="ts")
    batch_leg = tag(rollup(swept), "batch_dedup")

    return totals.unionByName(stream_leg).unionByName(batch_leg)


SQL_STREAMING_STATE_AUDIT = """
WITH replayed AS (
  SELECT user_id, event_type, value, props FROM events
  UNION ALL
  SELECT user_id, event_type, value, props FROM events WHERE event_id % 7 = 0
),
ded AS (SELECT DISTINCT user_id, event_type, value, props FROM replayed)
SELECT 'totals' AS grain, user_id,
       COUNT(*) AS events_seen, ROUND(SUM(value), 2) AS value_total
FROM events GROUP BY user_id
UNION ALL
SELECT 'stream_dedup' AS grain, user_id,
       COUNT(*) AS events_seen, ROUND(SUM(value), 2) AS value_total
FROM ded GROUP BY user_id
UNION ALL
SELECT 'batch_dedup' AS grain, user_id,
       COUNT(*) AS events_seen, ROUND(SUM(value), 2) AS value_total
FROM ded GROUP BY user_id
"""


# --- Multimodal columns ---------------------------------------------------------


def q_media_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column end-to-end: Arrow-batched mapInPandas
    featurization (payload = utf-8 text bytes; codec decode stubbed — this
    validates the schema/batching/UDF plumbing) joined with the frame-sample
    rollup (every 4th 256-byte chunk — the one-row-to-many mapInPandas
    explode shape). mean_byte is pytest-gated (DuckDB has no byte
    accessor)."""
    docs = load_table(spark, sf_dir, "documents")
    media = MM.attach_media(docs, "doc_id", "text")
    feats = MM.media_features(media, chunk_size=256).select(
        "media_id", "n_bytes", "n_chunks", "format"
    )
    frames = (
        MM.frame_sample(media, every_n_chunks=4, chunk_size=256)
        .groupBy("media_id")
        .agg(
            F.count(F.lit(1)).alias("frames"),
            F.sum(F.octet_length("chunk")).alias("sampled_bytes"),
        )
    )
    return feats.join(frames, "media_id", "left").fillna(
        {"frames": 0, "sampled_bytes": 0}
    )


SQL_MEDIA_PIPELINE = """
WITH m AS (
  SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes,
         (octet_length(encode(text)) + 255) // 256 AS n_chunks,
         'fake/' || CAST(doc_id % 3 AS VARCHAR) AS format
  FROM documents
), f AS (
  SELECT media_id, n_bytes, i * 4 AS chunk_index
  FROM m, UNNEST(range(0, (n_chunks + 3) // 4)) t(i)
), fr AS (
  -- CAST: DuckDB SUM(BIGINT) yields HUGEINT which canonicalizes as float
  -- (157.0 vs Spark's long 157) and breaks the value hash
  SELECT media_id, COUNT(*) AS frames,
         CAST(SUM(LEAST(256, n_bytes - chunk_index * 256)) AS BIGINT) AS sampled_bytes
  FROM f GROUP BY media_id
)
SELECT m.media_id, m.n_bytes, m.n_chunks, m.format,
       CAST(COALESCE(fr.frames, 0) AS BIGINT) AS frames,
       CAST(COALESCE(fr.sampled_bytes, 0) AS BIGINT) AS sampled_bytes
FROM m LEFT JOIN fr ON m.media_id = fr.media_id
"""


# --- CSV import/export round trip ------------------------------------------------


def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S4 end-to-end: export a deterministic orders slice to CSV, re-import
    it schema-validated with an FK check against customer, report counts +
    value checksum. Exercises the full export → validate → land path."""
    from market_data_mining_project_spark.sources import csv_io

    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000)
    customer = load_table(spark, sf_dir, "customer")
    tmp = _scratch_dir("csv_rt_")
    csv_path = f"{tmp}/orders_csv"
    csv_io.export_csv(
        orders.orderBy("o_orderkey"),
        csv_path,
        columns=["o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"],
        limit=None,
    )
    schema = "o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING"
    from pyspark.sql.types import _parse_datatype_string

    load = csv_io.read_csv_validated(
        spark,
        csv_path,
        _parse_datatype_string(schema),
        fk=("o_custkey", customer.select(F.col("c_custkey").alias("o_custkey"))),
    )
    out = load.valid.agg(
        F.count(F.lit(1)).alias("imported"),
        F.round(F.sum("o_totalprice"), 2).alias("total_value"),
        F.countDistinct("o_custkey").alias("customers"),
    )
    # this entry only reads `valid` (corrupt filter + real columns — legal
    # uncached): release now so repeated sweeps don't pin one raw CSV cache
    # per replay; the caller's single action re-scans the tiny export once
    load.release()
    return out


SQL_CSV_ROUNDTRIP = """
SELECT COUNT(*) AS imported,
       ROUND(SUM(CAST(o_totalprice AS DOUBLE)), 2) AS total_value,
       COUNT(DISTINCT o_custkey) AS customers
FROM orders
WHERE o_orderkey < 3000
  AND o_custkey IN (SELECT c_custkey FROM customer)
"""




def q_range_join_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ±15-min interval join computed by TWO independent algorithms in
    ONE oracled entry (r10 slot merge of ``range_join_errors`` +
    ``streaming_range_join``): the batch banded range join stacked over
    the Structured Streaming symmetric-hash-join replay, tagged by
    ``grain``. Both legs are column-identical by contract (the former
    pytest equality gate) — now BOTH are hash-checked against the same
    DuckDB naive-inequality-join twin, so the streaming leg graduates
    from equals-batch pytest gate to the driver's independent oracle
    without spending a window slot."""
    from market_data_mining_project_spark.plans import events_temporal as ET

    def tag(df: DataFrame, grain: str) -> DataFrame:
        return df.select(
            F.lit(grain).alias("grain"),
            F.col("event_id").cast("long").alias("event_id"),
            F.col("user_id").cast("long").alias("user_id"),
            F.col("ts_epoch").cast("long").alias("ts_epoch"),
            F.col("value").cast("double").alias("value"),
            F.col("n_errors_15min").cast("long").alias("n_errors_15min"),
            F.col("error_value_15min").cast("double").alias("error_value_15min"),
        )

    batch = tag(ET.q_range_join_errors(spark, sf_dir), "batch")
    stream = tag(q_streaming_range_join(spark, sf_dir), "stream")
    return batch.unionByName(stream)


def _sql_range_join_audit() -> str:
    from market_data_mining_project_spark.plans import events_temporal as ET

    # ONE materialized evaluation of the naive inequality join, selected
    # twice with different grain tags: the two grains are column-identical
    # by contract, so duplicating the subquery per leg would only run the
    # twin's most expensive join twice — at sf5 that was the whole sweep's
    # tail (the duplicated form measured 1563 s; the shared form halves
    # it). Oracle-side only; same rows either way.
    leg = (
        "SELECT '{g}' AS grain, CAST(event_id AS BIGINT) AS event_id, "
        "CAST(user_id AS BIGINT) AS user_id, CAST(ts_epoch AS BIGINT) AS ts_epoch, "
        "CAST(value AS DOUBLE) AS value, CAST(n_errors_15min AS BIGINT) AS n_errors_15min, "
        "CAST(error_value_15min AS DOUBLE) AS error_value_15min FROM shared_rj"
    )
    return (
        f"WITH shared_rj AS MATERIALIZED ({ET.SQL_RANGE_JOIN_ERRORS})\n"
        + leg.format(g="batch")
        + "\nUNION ALL\n"
        + leg.format(g="stream")
    )


QUERIES = {
    # csv_roundtrip serves through tpch_relational's merged
    # "relational_audits" entry (its function + SQL stay here, reused there)
    "streaming_window_stats": q_streaming_window_stats,
    "streaming_sessions": q_streaming_sessions,
    # running_user_totals + streaming_dedup serve through the merged
    # streaming_state_audit entry (r11; q_running_user_totals + its SQL
    # stay put, reused by the merged entry's totals grain)
    "streaming_state_audit": q_streaming_state_audit,
    "streaming_enriched": q_streaming_enriched,
    # range_join_errors + streaming_range_join serve through the merged
    # range_join_audit entry (r10; both functions + the batch SQL stay put)
    "range_join_audit": q_range_join_audit,
    "media_pipeline": q_media_pipeline,
}

ORACLE = {
    "streaming_window_stats": SQL_STREAMING_WINDOW_STATS,
    "streaming_sessions": SQL_STREAMING_SESSIONS,
    "streaming_state_audit": SQL_STREAMING_STATE_AUDIT,
    "streaming_enriched": SQL_STREAMING_ENRICHED,
    "range_join_audit": _sql_range_join_audit(),
    "media_pipeline": SQL_MEDIA_PIPELINE,
}
