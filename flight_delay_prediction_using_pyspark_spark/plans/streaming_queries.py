"""Catalog entries for the streaming operators: two window operators
run in batch mode (Spark's unified API: the exact same expressions
power streaming/ops.py on readStream inputs — batch/stream symmetry is
tested in tests/test_streaming.py), and twelve queries that run a real
stream end to end on the streaming/ops.py harness — `stream_parquet`
over the events file read in place, drained with the availableNow
trigger into a memory sink or a foreachBatch body.

Queries that run a stateful operator build their stream on a
`child_session` with 8 shuffle partitions and read the memory sink
from that child, so the caller's session conf is never changed.

Oracles: session windows via the classic gaps-and-islands SQL
(lag → break flag → running sum → group); sliding windows via the
k-shifted tumbling-bucket union; every stream-run query via the batch
computation its result must equal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import itertools
import os
import tempfile

from flight_delay_prediction_using_pyspark_spark.operators import aggregates as A
from flight_delay_prediction_using_pyspark_spark.plans.queries import (
    child_session,
    query,
)
from flight_delay_prediction_using_pyspark_spark.session import ensure_utc
from flight_delay_prediction_using_pyspark_spark.sources.readers import load_table
from flight_delay_prediction_using_pyspark_spark.streaming import ops as S

_dedup_run = itertools.count()

#: The events file as a stream reads it: `ts` is the raw µs integer of
#: its TIMESTAMP_NTZ column (`timestamp_micros(ts)` converts exactly).
_EVENTS_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)

#: The streaming state-store instance count is fixed at stream start
#: from `shuffle.partitions`; every instance is a long-lived
#: per-partition service with checkpoint I/O per micro-batch, so a
#: bounded replay wants stores sized to the data (production sizes it
#: to key cardinality × throughput instead).
_STATE_CONF = {"spark.sql.shuffle.partitions": "8"}


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.stream_parquet(spark, f"{sf_dir}/events.parquet", _EVENTS_SCHEMA)


@query(
    "events_session_windows",
    oracle="""
    WITH d AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 5 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events
    ),
    g AS (
      SELECT user_id, ts, value,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS grp
      FROM d
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 5 MINUTE AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
    FROM g
    GROUP BY user_id, grp
    """,
)
def q_events_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (5-min inactivity gap) per user via
    built-in `session_window` — the stateful streaming operator
    (streaming/ops.session_window_agg) in its batch form, verified
    against a gaps-and-islands oracle. Shuffles once on user_id."""
    ensure_utc(spark)
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            A.exact_decimal_sum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "events_sliding_windows",
    oracle="""
    WITH shifted AS (
      SELECT date_trunc('hour', ts) AS w_start, event_type, value FROM events
      UNION ALL
      SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, event_type, value FROM events
    )
    SELECT w_start AS window_start,
           w_start + INTERVAL 2 HOUR AS window_end,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
    FROM shifted
    GROUP BY w_start, event_type
    """,
)
def q_events_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (2h length, 1h slide) per event_type: each
    event lands in 2 windows. Same expression Structured Streaming
    plans for sliding windowed aggs; oracle is the k-shifted
    tumbling-bucket union."""
    ensure_utc(spark)
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            A.exact_decimal_sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "events_streaming_dedup",
    oracle="""
    SELECT user_id,
           CAST(concat('0x', substr(md5(coalesce(props, '')), 1, 8)) AS BIGINT)
             % 64 AS content_hash,
           MIN(event_id) AS event_id
    FROM events
    GROUP BY 1, 2
    """,
)
def q_events_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time stateful dedup, run END-TO-END through Structured
    Streaming: readStream over the events parquet -> derive a content
    hash (portable md5 pattern, % 64 to force collisions) ->
    streaming/ops.streaming_dedup (applyInPandasWithState, per-key
    hash-set state) -> availableNow memory sink. A single availableNow
    batch emits MIN(event_id) per (user_id, hash), so the batch
    GROUP BY oracle is exact — the stateful operator itself is under
    the correctness gate, not just its batch shadow."""
    child = child_session(spark, _STATE_CONF)
    stream = _events_stream(child, sf_dir).select(
            "event_id",
            "user_id",
            (
                F.conv(F.substring(F.md5(F.coalesce("props", F.lit(""))), 1, 8), 16, 10)
                .cast("long")
                % 64
            ).alias("content_hash"),
    )
    sink = f"streaming_dedup_{next(_dedup_run)}"
    S.run_to_memory_sink(S.streaming_dedup(stream), sink, output_mode="append")
    return child.table(sink)


@query(
    "events_streaming_totals",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(floor(coalesce(value, 0) * 100) AS BIGINT)) AS DOUBLE)
             AS total_value
    FROM events
    GROUP BY user_id
    """,
)
def q_events_streaming_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running totals via the applyInPandasWithState counter
    operator, end-to-end through Structured Streaming (readStream ->
    GroupState -> availableNow memory sink). The value column is
    floored to integer cents BEFORE the stateful sum, so the Python
    accumulation is exact integer-valued-double arithmetic — immune to
    float summation order — and the batch GROUP BY oracle matches
    bit-for-bit."""
    child = child_session(spark, _STATE_CONF)
    stream = _events_stream(child, sf_dir).select(
        "user_id",
        F.floor(F.coalesce("value", F.lit(0.0)) * 100).cast("double").alias("value"),
    )
    sink = f"streaming_totals_{next(_dedup_run)}"
    S.run_to_memory_sink(S.running_user_totals(stream), sink, output_mode="update")
    return child.table(sink)


@query(
    "events_cdc_merge",
    oracle="""
    SELECT user_id, event_id, event_type
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id
                               ORDER BY event_id DESC) = 1
    """,
)
def q_events_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming keyed upsert end-to-end: readStream -> foreachBatch
    CDC merge (streaming/ops.cdc_merge_sink) into a parquet target,
    keeping the max-event_id row per user. max() per key is
    associative, so the final target is batching-independent and the
    batch QUALIFY-latest oracle is exact. On Delta/Iceberg the batch
    body becomes MERGE INTO with identical semantics."""
    stream = _events_stream(spark, sf_dir).select("user_id", "event_id", "event_type")
    target = tempfile.mkdtemp(prefix="cdc_target_")
    os.rmdir(target)  # sink creates it on first merge
    S.cdc_merge_sink(stream, target, key_cols=["user_id"], order_col="event_id")
    # the stream's schema, not inference: an empty stream leaves a
    # target with no data file to infer from
    return spark.read.schema(stream.schema).parquet(target).drop("__bucket")


@query(
    "events_stream_stream_join",
    oracle="""
    WITH c AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
    ), j AS (
      SELECT c.user_id,
             CAST(floor(coalesce(p.value, 0) * 100) AS BIGINT) AS cents
      FROM c JOIN p
        ON c.user_id = p.user_id
       AND p.ts >= c.ts - INTERVAL 30 MINUTE
       AND p.ts <= c.ts
    )
    SELECT user_id,
           COUNT(*) AS n_pairs,
           CAST(SUM(cents) AS BIGINT) AS sum_purchase_cents
    FROM j GROUP BY user_id
    """,
)
def q_events_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join end-to-end: two readStream sources
    over the same events parquet (clicks / purchases), watermarked
    both sides, inner-joined on user_id with a 30-minute lookback
    range (streaming/ops.interval_join) into an availableNow memory
    sink; the emitted pair set is then aggregated in batch. Inner-join
    match sets are batching-independent, so the batch range-join
    oracle is exact. The events parquet stores ts as microsecond
    TIMESTAMP_NTZ; reading it through the explicit `ts long` stream
    schema yields the raw µs integer, so `timestamp_micros(ts)` is the
    exact (lossless) conversion."""
    child = child_session(spark, _STATE_CONF)
    to_ts = F.expr("timestamp_micros(ts)")
    clicks = (
        _events_stream(child, sf_dir)
        .filter(F.col("event_type") == "click")
        .select("user_id", to_ts.alias("click_ts"))
    )
    purchases = (
        _events_stream(child, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id"),
            to_ts.alias("purchase_ts"),
            F.floor(F.coalesce("value", F.lit(0.0)) * 100).alias("cents"),
        )
    )
    joined = S.interval_join(
        clicks, purchases, key="user_id", left_ts="click_ts", right_ts="purchase_ts"
    )
    sink = f"stream_ssj_{next(_dedup_run)}"
    S.run_to_memory_sink(joined.select("user_id", "cents"), sink, output_mode="append")
    return child.table(sink).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("cents").cast("bigint").alias("sum_purchase_cents"),
    )


@query(
    "events_streaming_dedup_builtin",
    oracle="""
    SELECT DISTINCT user_id,
           CAST(concat('0x', substr(md5(coalesce(props, '')), 1, 8)) AS BIGINT)
             % 64 AS content_hash
    FROM events
    """,
)
def q_events_streaming_dedup_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in watermarked streaming dedup:
    `dropDuplicatesWithinWatermark` keeps one row per key with state
    auto-evicted once the event-time watermark passes — the
    no-custom-code answer when dedup keys only repeat within a bounded
    time horizon (vs our applyInPandasWithState operator
    `events_streaming_dedup`, whose per-key state lives forever).
    Emitting ONLY the key columns makes the surviving set equal to
    the batch DISTINCT — batching-independent and oracle-exact."""
    child = child_session(spark, _STATE_CONF)
    stream = (
        _events_stream(child, sf_dir)
        .select(
            "user_id",
            (
                F.conv(F.substring(F.md5(F.coalesce("props", F.lit(""))), 1, 8), 16, 10)
                .cast("long")
                % 64
            ).alias("content_hash"),
            F.expr("timestamp_micros(ts)").alias("event_time"),
        )
        .withWatermark("event_time", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "content_hash"])
        .select("user_id", "content_hash")
    )
    sink = f"stream_dedup_wm_{next(_dedup_run)}"
    S.run_to_memory_sink(stream, sink, output_mode="append")
    return child.table(sink)


@query(
    "events_streaming_sessionize",
    oracle="""
    WITH s AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
             CAST(floor(coalesce(value, 0) * 100) AS BIGINT) AS cents
      FROM events
    ),
    d AS (
      SELECT user_id, sec, cents,
             CASE WHEN lag(sec) OVER w IS NULL
                       OR sec - lag(sec) OVER w > 1800
                  THEN 1 ELSE 0 END AS brk
      FROM s
      WINDOW w AS (PARTITION BY user_id ORDER BY sec)
    ),
    g AS (
      SELECT user_id, sec, cents,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY sec
                            ROWS UNBOUNDED PRECEDING) AS grp
      FROM d
    )
    SELECT user_id,
           MIN(sec) AS start_sec,
           MAX(sec) AS end_sec,
           COUNT(*) AS n_events,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM g GROUP BY user_id, grp
    """,
)
def q_events_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Emit-on-close custom sessionization end-to-end through
    Structured Streaming (streaming/ops.streaming_sessionize):
    per-user gaps-and-islands with a 30-min gap, sessions emitted
    exactly once — mid-stream when a later event breaks the gap,
    or via event-time timeout once the watermark passes
    last + gap. Two far-future sentinel files (negative user_ids,
    filtered from the result) advance the watermark across two extra
    micro-batches so every real user's trailing session closes; the
    sentinels' own sessions never time out and are never emitted.
    The batch gaps-and-islands oracle is exact because session
    boundaries and integer-cent sums are order-immune. An empty events
    table still gets its sentinels (anchored at epoch 0) and emits
    nothing."""
    # the sentinel files sit beside the events file, so this stream
    # keeps a staging directory of its own
    stage = tempfile.mkdtemp(prefix="stream_sess_src_")
    os.symlink(f"{sf_dir}/events.parquet", f"{stage}/events.parquet")
    max_ts = (
        spark.read.schema(_EVENTS_SCHEMA)
        .parquet(f"{sf_dir}/events.parquet")
        .agg(F.max("ts"))
        .first()[0]
    ) or 0
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    # Sentinels are written with pyarrow, not a Spark job: two one-row
    # parquet writes cost milliseconds in-process vs seconds of job +
    # commit overhead each through the JVM (measured 6 s/write on a
    # busy box — it dominated the whole query). The explicit reader
    # schema makes the int64/string/double file bit-compatible with
    # the events file's columns.
    hour_us = 3_600 * 1_000_000
    for i, (uid, ts_us) in enumerate(
        [(-1, max_ts + 2 * hour_us), (-2, max_ts + 4 * hour_us)]
    ):
        os.makedirs(f"{stage}/sentinel_{i}")
        path = f"{stage}/sentinel_{i}/part-0.parquet"
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([0], pa.int64()),
                    "ts": pa.array([ts_us], pa.int64()),
                    "user_id": pa.array([uid], pa.int64()),
                    "event_type": pa.array(["sentinel"], pa.string()),
                    "value": pa.array([0.0], pa.float64()),
                    "props": pa.array([None], pa.string()),
                }
            ),
            path,
        )
        mtime = _time.time() + i  # after the (old) events.parquet mtime
        os.utime(path, (mtime, mtime))
    child = child_session(spark, _STATE_CONF)
    stream = (
        child.readStream.schema(_EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stage}/*")
        .select(
            "user_id",
            (F.col("ts") / 1_000_000).cast("long").alias("sec"),
            F.floor(F.coalesce("value", F.lit(0.0)) * 100)
            .cast("long")
            .alias("cents"),
            F.expr("timestamp_micros(ts)").alias("event_time"),
        )
        .withWatermark("event_time", "0 seconds")
    )
    sink = f"stream_sess_{next(_dedup_run)}"
    S.run_to_memory_sink(S.streaming_sessionize(stream), sink, output_mode="append")
    return child.table(sink).filter(F.col("user_id") >= 0)


@query(
    "events_stream_static_join",
    oracle="""
    WITH totals AS (
      SELECT user_id,
             CAST(SUM(CAST(floor(coalesce(value, 0) * 100) AS BIGINT)) AS BIGINT)
               AS lifetime_cents
      FROM events GROUP BY user_id
    ),
    tiers AS (
      SELECT user_id,
             CASE WHEN lifetime_cents >= 350000 THEN 'whale'
                  WHEN lifetime_cents >= 300000 THEN 'regular'
                  ELSE 'casual' END AS tier
      FROM totals
    )
    SELECT tier,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(floor(coalesce(e.value, 0) * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM events e JOIN tiers USING (user_id)
    GROUP BY tier
    """,
)
def q_events_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join — the stateless streaming enrichment every
    ingest pipeline runs: a readStream of events joined per
    micro-batch against a STATIC user-tier dimension (derived in batch
    from lifetime integer-cent totals), then a streaming per-tier
    aggregate into a complete-mode sink. Stream-static joins keep no
    join state (the static side re-broadcasts per batch), so the final
    availableNow result equals the batch join exactly — which is what
    the oracle checks."""
    ensure_utc(spark)
    child = child_session(spark, _STATE_CONF)
    cents = F.floor(F.coalesce("value", F.lit(0.0)) * 100).cast("long")
    static_events = load_table(child, sf_dir, "events")
    tiers = (
        static_events.select("user_id", cents.alias("cents"))
        .groupBy("user_id")
        .agg(F.sum("cents").alias("lifetime_cents"))
        .select(
            "user_id",
            F.when(F.col("lifetime_cents") >= 350000, "whale")
            .when(F.col("lifetime_cents") >= 300000, "regular")
            .otherwise("casual")
            .alias("tier"),
        )
    )
    stream = (
        _events_stream(child, sf_dir)
        .select("user_id", cents.alias("cents"))
        .join(tiers, "user_id")
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
    )
    sink = f"stream_static_{next(_dedup_run)}"
    S.run_to_memory_sink(stream, sink, output_mode="complete")
    return child.table(sink)


_CMS_EVENT_PROBES = ["click", "view", "purchase", "signup", "error", "absent_type_zz"]
_CMS_EVENT_W = 8


def _streaming_cms_oracle() -> str:
    from flight_delay_prediction_using_pyspark_spark.operators import sketches as SK

    return SK.cms_oracle_sql(
        "SELECT event_type AS token FROM events",
        _CMS_EVENT_PROBES,
        _CMS_EVENT_W,
        out_col="event_type",
    )


@query("events_streaming_cms", oracle=_streaming_cms_oracle())
def q_events_streaming_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch maintained OVER A STREAM end-to-end: readStream
    → cms_cells (stateless map) → streaming groupBy(row, bucket) count
    in complete mode → memory sink, then probe the drained sketch.
    CMS cells are pure mergeable counters, so the streamed sketch is
    bit-identical to the batch build no matter how the input is
    micro-batched — the batch SQL oracle replays it exactly. Width 8
    forces visible collisions across the 5 event types. The sketch
    state is d·w counters (24 longs) regardless of stream length —
    the bounded-state way to track frequencies at 100 TB/day, vs the
    unbounded per-key state of an exact streaming count."""
    from flight_delay_prediction_using_pyspark_spark.operators import sketches as SK

    ensure_utc(spark)
    child = child_session(spark, _STATE_CONF)
    stream = _events_stream(child, sf_dir).select(F.col("event_type").alias("token"))
    cells = SK.cms_cells(stream, "token", width=_CMS_EVENT_W)
    sink = f"streaming_cms_{next(_dedup_run)}"
    run_sketch = cells.groupBy("row", "bucket").agg(F.count(F.lit(1)).alias("count"))
    S.run_to_memory_sink(run_sketch, sink, output_mode="complete")
    sketch = child.table(sink)
    probes = spark.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in _CMS_EVENT_PROBES])).alias("token")
    )
    est = SK.cms_estimate(sketch, probes, "token", width=_CMS_EVENT_W)
    occ = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("token")
    )
    tru = probes.join(
        occ.groupBy("token").agg(F.count(F.lit(1)).alias("c")), "token", "left"
    ).select(
        "token", F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("true_cnt")
    )
    return est.join(tru, "token").select(
        F.col("token").alias("event_type"),
        "est",
        "true_cnt",
        (F.col("est") - F.col("true_cnt")).cast("bigint").alias("overcount"),
    )


@query(
    "events_exactly_once_sink",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(floor(coalesce(value, 0) * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM events
    GROUP BY event_type
    """,
)
def q_events_exactly_once_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming parquet sink end-to-end: readStream →
    manifest_parquet_sink (per-batch data directory + atomic commit
    file — the simplified Delta/Iceberg log protocol) →
    read_manifest_parquet (reads ONLY committed batches) → aggregate.
    foreachBatch gives at-least-once; the committed-id skip makes the
    table exactly-once under replay, and a crash between data write
    and commit leaves invisible dead files, never wrong answers
    (replay/crash paths are exercised in
    tests/test_streaming.py::test_manifest_sink_*). The aggregate of
    the round-tripped table matches the batch oracle exactly."""
    ensure_utc(spark)
    stream = _events_stream(spark, sf_dir).select(
        "event_type",
        F.floor(F.coalesce("value", F.lit(0.0)) * 100).cast("long").alias("cents"),
    )
    target = tempfile.mkdtemp(prefix="stream_eos_tgt_")
    os.rmdir(target)  # the sink creates it on its first commit
    S.manifest_parquet_sink(stream, target)
    table = S.read_manifest_parquet(spark, target)
    return table.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").cast("bigint").alias("cents"),
    )


@query(
    "events_cdc_merge_deletes",
    oracle="""
    WITH latest AS (
      SELECT user_id, event_id, event_type,
             CASE WHEN event_id % 13 = 0 THEN 'D' ELSE 'U' END AS op
      FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id
                                 ORDER BY event_id DESC) = 1
    )
    SELECT user_id, event_id, event_type, op
    FROM latest WHERE op <> 'D'
    """,
)
def q_events_cdc_merge_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge with TOMBSTONES end-to-end: the change stream tags
    event_id%13==0 rows as deletes ('D'); the foreachBatch merge
    (streaming/ops.cdc_merge_sink, op_col='op') keeps the per-key
    latest change and REMOVES keys whose latest change is a delete —
    Debezium-style last-writer-wins compaction, batching-independent
    because max(event_id) per key is associative regardless of which
    op wins. The oracle QUALIFYs the same latest-change rule over the
    batch table and drops keys ending in a delete; a hash match proves
    upserts, deletes, and their interleavings all landed exactly."""
    stream = _events_stream(spark, sf_dir).select(
        "user_id",
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 13 == 0, "D").otherwise("U").alias("op"),
    )
    target = tempfile.mkdtemp(prefix="cdc_del_target_")
    os.rmdir(target)
    S.cdc_merge_sink(
        stream, target, key_cols=["user_id"], order_col="event_id", op_col="op"
    )
    # the stream's schema, not inference: an empty stream leaves a
    # target with no data file to infer from
    return spark.read.schema(stream.schema).parquet(target).drop("__bucket")


@query(
    "custom_pysource_stream_stats",
    oracle="""
    WITH g AS (
      SELECT t.g AS id,
             CAST(concat('0x', substr(md5(CAST(t.g AS VARCHAR)), 1, 8)) AS BIGINT)
               % 1000 AS val
      FROM generate_series(0, 499) t(g)
    )
    SELECT COUNT(*) AS n_rows,
           CAST(COUNT(DISTINCT id) AS BIGINT) AS n_distinct_ids,
           CAST(SUM(val) AS BIGINT) AS sum_val,
           CAST(MAX(id) AS BIGINT) AS max_id
    FROM g
    """,
)
def q_custom_pysource_stream_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python DataSource STREAMING reader
    (sources.pysource.make_stream_datasource): the `detstream` format
    generates deterministic md5-derived rows with an offset contract
    ({"pos": n} advancing per micro-batch), drained through a real
    readStream → memory sink with availableNow. The offsets fully
    determine the data (readBetweenOffsets replays any range), which
    is the exactly-once property streaming sources must carry; the
    oracle reproduces every drained row from generate_series, so the
    STREAMING SOURCE itself sits under the correctness gate like its
    batch sibling. Five micro-batches of 100 rows = 500 total."""
    from flight_delay_prediction_using_pyspark_spark.sources import pysource

    pysource.register_stream(spark)
    stream = (
        spark.readStream.format("detstream")
        .option("per_batch", "100")
        .load()
    )
    sink = f"pysource_stream_{next(_dedup_run)}"
    q = (
        stream.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    # availableNow semantics don't apply to an unbounded generator
    # (there is always a next batch): drain exactly 5 micro-batches
    # by watching the progress stream, then stop — the bounded
    # harness form; production runs continuously.
    import time as _t

    deadline = _t.time() + 120
    while True:
        if len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 5:
            break
        if _t.time() >= deadline:
            # Fail loudly: falling through with <5 batches would
            # return an under-drained aggregate that surfaces as an
            # opaque oracle mismatch instead of a timeout.
            q.stop()
            raise RuntimeError(
                "detstream drained "
                f"{len([p for p in q.recentProgress if p['numInputRows'] > 0])}"
                " micro-batches (<5) in 120s"
            )
        _t.sleep(0.2)
    q.stop()
    q.awaitTermination()
    drained = spark.table(sink).filter(F.col("id") < 500)
    return drained.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("id").cast("long").alias("n_distinct_ids"),
        F.sum("val").cast("long").alias("sum_val"),
        F.max("id").cast("long").alias("max_id"),
    )


@query(
    "events_streaming_priority_sample",
    oracle="""
    WITH p AS (
      SELECT event_id AS key,
             CAST(floor(coalesce(value, 0) * 100) AS BIGINT) AS w,
             CAST(CAST(floor(coalesce(value, 0) * 100) AS BIGINT) AS DOUBLE)
               / (CAST(CAST(concat('0x', substr(md5(concat('eps_', event_id)),
                            1, 15)) AS BIGINT) + 1 AS DOUBLE)
                  / 1152921504606846976.0) AS priority
      FROM events
      WHERE CAST(floor(coalesce(value, 0) * 100) AS BIGINT) > 0
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY priority DESC, key) AS rn FROM p
    ),
    t AS (
      SELECT COALESCE(MAX(CASE WHEN rn = 51 THEN priority END), 0.0) AS tau,
             CAST(SUM(w) AS BIGINT) AS true_c
      FROM r
    )
    SELECT COUNT(*) AS k_eff,
           CAST(floor(1000000 * t.tau) AS BIGINT) AS tau_q,
           CAST(SUM(CAST(floor(1000000 * greatest(CAST(r.w AS DOUBLE), t.tau))
                    AS BIGINT)) AS BIGINT) AS est_q,
           t.true_c,
           CAST(abs(SUM(CAST(floor(1000000 * greatest(CAST(r.w AS DOUBLE),
                                                      t.tau)) AS BIGINT))
                    - 1000000 * t.true_c) // t.true_c AS BIGINT)
             AS abs_err_ppm,
           TRUE AS multi_batch
    FROM r, t
    WHERE r.rn <= 50
    GROUP BY t.tau, t.true_c
    """,
)
def q_events_streaming_priority_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming DLT priority-sample maintenance end-to-end
    (streaming/ops.priority_sample_sink): the events table is staged
    as FOUR files, streamed one file per micro-batch, and each batch
    folds its rows into a persisted top-(k+1) reservoir (k=50 sample
    rows + the τ-carrier). Because top-m selection is associative,
    the final reservoir — and therefore τ and the DLT subset-sum
    estimate Σ max(w, τ) — is bit-identical to the batch window-rank
    oracle over the whole table, whatever the batching: the
    batch/stream symmetry contract extended to the estimation tier.
    `multi_batch` self-checks that the run actually exercised the
    merge path (≥2 micro-batches with rows) rather than degenerating
    to one batch. Constant state: an unbounded stream's subset-sum
    sample costs k+1 rows forever; at 100 TB/day this is the sample
    you can afford to keep per shard."""
    import shutil

    from flight_delay_prediction_using_pyspark_spark.streaming.ops import (
        priority_sample_sink,
    )

    events = load_table(spark, sf_dir, "events")
    stage = tempfile.mkdtemp(prefix="prio_sample_src_")
    # one scan, one shuffle: 4 partition dirs → 4 one-file micro-batches
    (
        events.select(
            "event_id",
            F.floor(F.coalesce("value", F.lit(0.0)) * 100)
            .cast("long")
            .alias("w"),
        )
        .withColumn("part", F.col("event_id") % 4)
        .repartition("part")
        .write.mode("overwrite")
        .partitionBy("part")
        .parquet(stage)
    )
    state_dir = tempfile.mkdtemp(prefix="prio_sample_state_")
    os.rmdir(state_dir)  # sink creates it on first merge

    stream = (
        spark.readStream.schema("event_id long, w long")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stage}/part=*")
    )
    schema = (
        "k_eff long, tau_q long, est_q long, true_c long, "
        "abs_err_ppm long, multi_batch boolean"
    )
    try:
        n_batches = priority_sample_sink(stream, state_dir, "event_id", "w", k=50)
        if not os.path.isdir(state_dir):
            # no row carried a positive weight, so there is no sample —
            # and the oracle's GROUP BY over an empty ranking has no row
            return spark.createDataFrame([], schema)
        state = spark.read.parquet(state_dir)
        from pyspark.sql import Window

        rn = F.row_number().over(
            Window.orderBy(F.desc("priority"), F.asc("key"))
        )
        ranked = state.select("key", "w", "priority", rn.alias("rn"))
        tau = F.coalesce(
            F.max(F.when(F.col("rn") == 51, F.col("priority"))), F.lit(0.0)
        )
        stats = ranked.agg(tau.alias("tau")).collect()[0]
        true_c = (
            events.filter(
                F.floor(F.coalesce("value", F.lit(0.0)) * 100).cast("long") > 0
            )
            .agg(
                F.sum(
                    F.floor(F.coalesce("value", F.lit(0.0)) * 100).cast("long")
                ).alias("s")
            )
            .collect()[0]["s"]
        )
        samp = (
            ranked.filter(F.col("rn") <= 50)
            .agg(
                F.count(F.lit(1)).alias("k_eff"),
                F.sum(
                    F.floor(
                        1000000
                        * F.greatest(
                            F.col("w").cast("double"), F.lit(stats["tau"])
                        )
                    ).cast("long")
                ).alias("est_q"),
            )
            .collect()[0]
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(state_dir, ignore_errors=True)
    est_q = samp["est_q"]
    import math

    row = (
        samp["k_eff"],
        math.floor(1000000 * stats["tau"]),
        est_q,
        true_c,
        abs(est_q - 1000000 * true_c) // true_c,
        n_batches >= 2,
    )
    return spark.createDataFrame([row], schema)
