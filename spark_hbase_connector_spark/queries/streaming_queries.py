"""Streaming query entries — Structured Streaming driven to completion over
the finite events table, hash-compared against batch SQL oracles (streaming
results on a bounded input must equal the batch computation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_hbase_connector_spark.queries.registry import query
from spark_hbase_connector_spark.streaming.events import (
    click_purchase_stream_join,
    events_stream,
    ohlc_window_agg,
    run_stream_to_memory,
    running_totals_stateful,
    running_totals_tws,
    session_window_agg,
    sliding_window_agg,
    stream_static_enrich_agg,
    tumbling_window_agg,
    tumbling_window_agg_watermarked,
)


@query(
    "streaming_tumbling_counts",
    oracle="""
    SELECT make_timestamp((epoch_us(ts) // 900000000) * 900000000) AS window_start,
           event_type, count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS total_value
    FROM events GROUP BY 1, 2
    """,
    tags=("streaming",),
)
def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """15-minute tumbling-window counts per event type, computed by a real
    readStream -> groupBy(window) -> memory-sink pipeline. Epoch-aligned
    windows == floor(epoch_us / 900e6) bucketing in the oracle."""
    stream = events_stream(spark, sf_dir)
    return run_stream_to_memory(tumbling_window_agg(stream, "15 minutes"), spark)


@query(
    "streaming_ohlc_bars",
    oracle="""
    WITH b AS (
      SELECT event_type,
             make_timestamp((epoch_us(ts) // 900000000) * 900000000) AS window_start,
             ts, event_id, value
      FROM events
    ),
    rn AS (
      SELECT *,
             row_number() OVER (PARTITION BY event_type, window_start
                                ORDER BY ts, event_id) AS ra,
             row_number() OVER (PARTITION BY event_type, window_start
                                ORDER BY ts DESC, event_id DESC) AS rd
      FROM b
    )
    SELECT window_start, event_type,
           round(max(CASE WHEN ra = 1 THEN value END), 4) AS open,
           round(max(value), 4) AS high,
           round(min(value), 4) AS low,
           round(max(CASE WHEN rd = 1 THEN value END), 4) AS close,
           CAST(count(*) AS BIGINT) AS n
    FROM rn GROUP BY 1, 2
    """,
    tags=("streaming", "window", "timeseries"),
)
def streaming_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming twin of `events_ohlc_bars`: per 15-minute window,
    open/close computed with min_by/max_by over the (ts, event_id)
    struct — commutative, so cross-micro-batch state merges are
    arrival-order independent (first/last would not be). On the finite
    input it must equal the batch row_number replay."""
    stream = events_stream(spark, sf_dir)
    return run_stream_to_memory(ohlc_window_agg(stream, "15 minutes"), spark)


@query(
    "streaming_sliding_counts",
    oracle="""
    WITH ev AS (SELECT epoch_us(ts) AS e, event_type, value FROM events),
    wins AS (
      SELECT make_timestamp((e // 900000000) * 900000000) AS window_start,
             event_type, value FROM ev
      UNION ALL
      SELECT make_timestamp((e // 900000000) * 900000000 - 900000000),
             event_type, value FROM ev
    )
    SELECT window_start, event_type, count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS total_value
    FROM wins GROUP BY 1, 2
    """,
    tags=("streaming", "window"),
)
def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute windows sliding every 15 minutes over the event stream —
    each event belongs to exactly two overlapping windows. The oracle
    replays the fan-out: one copy at the event's 15-minute bucket, one at
    the bucket before (both epoch-aligned, matching Spark's window
    alignment)."""
    stream = events_stream(spark, sf_dir)
    return run_stream_to_memory(
        sliding_window_agg(stream, "30 minutes", "15 minutes"), spark
    )


@query(
    "streaming_tumbling_watermarked",
    oracle="""
    WITH agg AS (
      SELECT make_timestamp((epoch_us(ts) // 900000000) * 900000000) AS window_start,
             event_type, count(*) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS total_value
      FROM events GROUP BY 1, 2
    ),
    wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events)
    SELECT agg.* FROM agg, wm WHERE window_start + INTERVAL 15 MINUTE <= w
    """,
    tags=("streaming", "watermark"),
)
def streaming_tumbling_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode watermarked tumbling windows — the bounded-state
    production shape: a window is emitted exactly once, when the event-time
    watermark (max event time - 10 minutes) passes its end, and its state
    is dropped. The batch oracle replays the emission rule: only windows
    whose end <= final watermark appear (still-open trailing windows are
    never emitted on a finite input)."""
    stream = events_stream(spark, sf_dir)
    return run_stream_to_memory(
        tumbling_window_agg_watermarked(stream, "15 minutes", "10 minutes"),
        spark,
        mode="append",
    )


@query(
    "streaming_dedup_distinct",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    tags=("streaming", "dedup"),
)
def streaming_dedup_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming deduplication: dropDuplicates over the stream
    keeps per-key state across micro-batches and emits each (user_id,
    event_type) exactly once (append mode) — the streaming half of the
    dedup story; on a finite input it equals batch DISTINCT. Production
    bounds the state with withWatermark + the event-time column in the key."""
    stream = events_stream(spark, sf_dir)
    dedup = stream.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    return run_stream_to_memory(dedup, spark, mode="append")


@query(
    "streaming_running_totals",
    oracle="""
    SELECT user_id, event_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
             AS running_value
    FROM events
    """,
    tags=("streaming", "stateful"),
)
def streaming_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-user
    running totals, state carried across micro-batches; oracle is the batch
    cumulative-sum window (same sequential fp summation order)."""
    stream = events_stream(spark, sf_dir)
    return run_stream_to_memory(running_totals_stateful(stream), spark, mode="append")


@query(
    "streaming_running_totals_tws",
    oracle="""
    SELECT user_id, event_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
             AS running_value
    FROM events
    """,
    tags=("streaming", "stateful", "transformWithState"),
)
def streaming_running_totals_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract on the v2 arbitrary-state API (StatefulProcessor):
    runs natively on transformWithStateInPandas where google.protobuf
    exists, else on the vendor-free v1 shim
    (`streaming/tws_shim.py`) — identical results either way, so this one
    oracle certifies the processor on whichever engine the environment
    provides."""
    stream = events_stream(spark, sf_dir)
    return run_stream_to_memory(running_totals_tws(stream), spark, mode="append")


@query(
    "streaming_session_timeout_close",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new,
             event_id
      FROM events
    ),
    sess AS (
      SELECT user_id, ts, value,
             CAST(sum(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
      FROM gaps
    ),
    g AS (
      SELECT user_id, sid, min(ts) AS session_start, max(ts) AS session_end,
             count(*) AS n_events, round(sum(value), 4) AS session_value
      FROM sess GROUP BY user_id, sid
    )
    SELECT user_id, session_start, session_end, n_events, session_value,
           CASE WHEN sid = max(sid) OVER (PARTITION BY user_id)
                THEN 'timeout' ELSE 'gap' END AS closed_by
    FROM g
    """,
    tags=("streaming", "stateful", "transformWithState", "timers", "sessionize"),
)
def streaming_session_timeout_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session close on INACTIVITY via StatefulProcessor processing-time
    timers (`events.session_timeout_close` on the r5 timer-capable tws
    shim, or the native v2 engine where protobuf exists): event-time gaps
    > 30 min close sessions as the next event arrives (closed_by='gap');
    when the stream goes quiet, each key's re-armed inactivity timer
    fires and flushes the still-open session (closed_by='timeout') — the
    timeout-emission pattern VERDICT r4 listed as the shim's real-user
    gap. The oracle replays the emission rule exactly: gap-island
    sessionization, with each user's LAST session closed by timeout and
    all earlier ones by gap. Wall clock decides only WHEN the flush
    lands (any replay whose inter-batch delivery gaps stay under
    flush_ms yields byte-identical output), never WHAT it contains.

    Driving a timer query to completion differs from the other entries:
    with processing-time timeouts armed the microbatch engine keeps
    scheduling wake-up batches, so ``processAllAvailable`` starves —
    instead the sink is POLLED until every user's flush landed (bounded,
    loud timeout), with a throttled trigger so the timer wake-ups don't
    busy-loop the scheduler. The query checkpoints into its own temporary
    directory, removed after ``stop()`` returns, and is stopped right
    after a micro-batch ends: a stop that lands while a timer wake-up
    batch commits its state store aborts that commit."""
    import tempfile
    import time
    import uuid

    from spark_hbase_connector_spark.streaming.events import session_timeout_close

    stream = events_stream(spark, sf_dir)
    n_users = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id")
        .distinct()
        .count()
    )
    name = f"mem_{uuid.uuid4().hex[:10]}"
    with tempfile.TemporaryDirectory(prefix=f"{name}-") as checkpoint:
        # A timeout between two input batches would split a session and
        # flake the differential; none can, because the file source
        # delivers the whole table in the first batch. The timers are due
        # 6 s after it and fire in the next batch, 10 s after the first.
        # The 10 s trigger outlasts a wake-up batch (1-4 s measured at
        # sf0.01 on 4 vCPU with 16 shuffle partitions), so the query sits
        # idle between batches, where it can be stopped.
        q = (
            session_timeout_close(stream, gap_minutes=30, flush_ms=6000)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", checkpoint)
            .trigger(processingTime="10 seconds")
            .start()
        )
        try:
            # data-proportional deadline: the first micro-batch replays the
            # whole finite table through the Python shim before any timeout
            # can fire, so the bound must grow with the input (r6: 180 s was
            # fine through sf0.1 but tripped at sf1's 1M events)
            deadline = time.time() + 180 + n_users / 25
            while True:
                # DISTINCT users, not raw rows: if a straggler key ever did
                # flush twice, raw count could hit n_users while another
                # user's final flush is still pending (early-exit truncation).
                n_flushed = (
                    spark.table(name)
                    .where(F.col("closed_by") == "timeout")
                    .select("user_id")
                    .distinct()
                    .count()
                )
                if n_flushed >= n_users:
                    break
                if time.time() > deadline:
                    raise RuntimeError(
                        f"session_timeout_close: only {n_flushed}/{n_users} "
                        "inactivity flushes landed before the deadline — timer "
                        "wake-ups are not firing"
                    )
                time.sleep(0.5)
        finally:
            idle_deadline = time.time() + 30
            while q.isActive and q.status["isTriggerActive"] and time.time() < idle_deadline:
                time.sleep(0.02)
            q.stop()
    return spark.table(name).select(
        "user_id",
        F.timestamp_micros(F.col("session_start_us")).alias("session_start"),
        F.timestamp_micros(F.col("session_end_us")).alias("session_end"),
        "n_events",
        "session_value",
        "closed_by",
    )


@query(
    "streaming_first_horizon_watermark",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS us, value FROM events
    ),
    f AS (SELECT user_id, min(us) AS first_us FROM e GROUP BY user_id),
    mx AS (SELECT max(us) AS max_us FROM e),
    agg AS (
      SELECT e.user_id, f.first_us,
             max(e.us) AS last_us,
             count(*) AS n_events,
             round(sum(e.value), 4) AS total_value
      FROM e JOIN f USING (user_id)
      WHERE e.us <= f.first_us + 240::BIGINT * 60000000
      GROUP BY e.user_id, f.first_us
    )
    SELECT a.user_id,
           make_timestamp(a.first_us) AS first_ts,
           make_timestamp(a.last_us) AS last_ts,
           a.n_events, a.total_value
    FROM agg a, mx
    WHERE (a.first_us // 1000) + 240 * 60000
            < (mx.max_us // 1000) - 60000
       OR EXISTS (SELECT 1 FROM e e2 WHERE e2.user_id = a.user_id
                  AND e2.us > a.first_us + 240::BIGINT * 60000000)
    ORDER BY a.user_id
    """,
    tags=("streaming", "stateful", "transformWithState", "timers", "watermark"),
)
def streaming_first_horizon_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVENT-TIME timers end-to-end (`events.first_horizon_profile` on
    the shim's time_mode='EventTime' -> ``EventTimeTimeout``): each
    user's first-4-hours profile emits exactly once — via the
    watermark-driven timer registered at ``first_ts + 4h`` (the only
    close signal a quiet user produces) or via the first beyond-horizon
    input row, whichever the watermark race delivers first; both paths
    emit the identical aggregate, so output is deterministic. The oracle
    replays BOTH close conditions exactly: in-horizon aggregation on
    microsecond event time, plus the strict ms-truncated
    ``first_ms + horizon_ms < final_watermark_ms`` timer-eligibility
    test (final watermark = max event ms - 1 min delay). Unlike
    processing-time timers, event-time wake-ups only occur on watermark
    change, so ``processAllAvailable`` terminates normally — no sink
    polling needed."""
    from spark_hbase_connector_spark.streaming.events import first_horizon_profile

    stream = events_stream(spark, sf_dir)
    out = run_stream_to_memory(
        first_horizon_profile(stream, horizon_minutes=240, delay="1 minute"),
        spark,
        mode="append",
    )
    return out.select(
        "user_id",
        F.timestamp_micros(F.col("first_us")).alias("first_ts"),
        F.timestamp_micros(F.col("last_us")).alias("last_ts"),
        "n_events",
        "total_value",
    ).orderBy("user_id")


@query(
    "streaming_static_enrich",
    oracle="""
    SELECT c.c_mktsegment, count(*) AS n,
           CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS DOUBLE) / 100
             AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    tags=("streaming", "join"),
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched per micro-batch with
    the static customer dimension (broadcast hash join, no join state),
    aggregated per market segment. Oracle is the equivalent batch
    join+group."""
    from spark_hbase_connector_spark.catalogs import load

    stream = events_stream(spark, sf_dir)
    dim = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return run_stream_to_memory(stream_static_enrich_agg(stream, dim), spark)


@query(
    "streaming_stream_join",
    oracle="""
    SELECT c.event_id AS click_id, c.user_id, p.event_id AS purchase_id,
           round((epoch_us(p.ts) - epoch_us(c.ts)) / 1000000.0, 4)
             AS secs_to_purchase,
           p.value AS purchase_value
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
    tags=("streaming", "join", "watermark"),
)
def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join: clicks matched to the same
    user's purchases within 30 minutes. Event-time watermarks on both
    sides + the range-bounded condition keep join state bounded; on the
    finite input the output equals the batch time-range join."""
    return run_stream_to_memory(
        click_purchase_stream_join(spark, sf_dir, "30 minutes"), spark, mode="append"
    )


@query(
    "streaming_session_windows",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, value,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM gaps
    )
    SELECT min(ts) AS session_start, user_id,
           count(*) AS n_events, round(sum(value), 4) AS session_value
    FROM sess GROUP BY user_id, session_id
    """,
    tags=("streaming", "sessionize"),
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window (30-minute gap) streaming aggregation; oracle is
    the equivalent batch gap-chaining sessionization. Boundary semantics
    verified empirically: Spark MERGES an event at exactly prev_ts + gap
    into the running session, so the oracle's new-session predicate is the
    strict ``ts - lag(ts) > gap``; equal-timestamp ordering is pinned with
    an event_id tiebreak in both window clauses."""
    stream = events_stream(spark, sf_dir)
    return run_stream_to_memory(session_window_agg(stream, "30 minutes"), spark)


@query(
    "streaming_foreachbatch_sink",
    oracle="""
    SELECT make_timestamp((epoch_us(ts) // 900000000) * 900000000) AS window_start,
           event_type, count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS total_value
    FROM events GROUP BY 1, 2
    """,
    tags=("streaming", "sink"),
)
def streaming_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch + idempotent overwrite — the production pattern for
    exactly-once delivery into sinks Spark has no native connector for
    (JDBC upserts, KV stores, search indexes). Each micro-batch rewrites
    the COMPLETE aggregation state to the target path: replaying an epoch
    after a crash rewrites byte-identical data, so restarts cannot
    double-count (idempotence stands in for transactions). The query
    returns the final sink contents read back — which must equal the
    batch oracle over the same input.

    At scale the per-epoch rewrite is bounded by the aggregate's
    cardinality (windows x event types), not the stream volume; true
    upsert targets would MERGE on the window key instead of overwriting."""
    import uuid

    stream = events_stream(spark, sf_dir)
    agg = tumbling_window_agg(stream, "15 minutes")
    out_dir = (
        f"/tmp/spark_hbase_connector_fixtures/foreachbatch_{uuid.uuid4().hex[:10]}"
    )

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(out_dir)

    q = agg.writeStream.outputMode("complete").foreachBatch(write_batch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.read.parquet(out_dir)


@query(
    "streaming_stream_join_outer",
    oracle="""
    WITH c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
               FROM events WHERE event_type = 'click'),
    p AS (SELECT event_id AS purchase_id, user_id AS p_user_id,
                 ts AS purchase_ts, value AS purchase_value
          FROM events WHERE event_type = 'purchase'),
    wm AS (SELECT least((SELECT max(click_ts) FROM c),
                        (SELECT max(purchase_ts) FROM p))
                  - INTERVAL 1 HOUR AS w),
    matched AS (
      SELECT click_id, c.user_id, purchase_id,
             round((epoch_us(purchase_ts) - epoch_us(click_ts)) / 1000000.0, 4)
               AS secs_to_purchase,
             purchase_value
      FROM c JOIN p ON c.user_id = p.p_user_id
        AND p.purchase_ts BETWEEN c.click_ts
                              AND c.click_ts + INTERVAL 30 MINUTE
    ),
    unmatched AS (
      SELECT click_id, c.user_id,
             NULL::BIGINT AS purchase_id,
             NULL::DOUBLE AS secs_to_purchase,
             NULL::DOUBLE AS purchase_value
      FROM c, wm
      WHERE NOT EXISTS (
        SELECT 1 FROM p WHERE p.p_user_id = c.user_id
          AND p.purchase_ts BETWEEN c.click_ts
                                AND c.click_ts + INTERVAL 30 MINUTE)
        AND c.click_ts + INTERVAL 30 MINUTE < wm.w
    )
    SELECT * FROM matched UNION ALL SELECT * FROM unmatched
    """,
    tags=("streaming", "join", "watermark"),
)
def streaming_stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join — the attribution shape
    that must also report clicks that converted to nothing. Outer rows are
    held in state until the watermark proves no match can still arrive,
    then emitted with NULLs; the oracle replays Spark's exact emission
    rule (global watermark = min over each side's own max event time minus
    its delay; unmatched click emitted iff its horizon closed strictly
    before that watermark). Verified to match Spark row-for-row at
    sf0.001 and sf0.01 before registration."""
    from spark_hbase_connector_spark.streaming.events import (
        click_purchase_stream_join_outer,
    )

    return run_stream_to_memory(
        click_purchase_stream_join_outer(spark, sf_dir), spark, mode="append"
    )


@query(
    "streaming_hbasekv_changefeed",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
             / 100 AS total_bal,
           min(c_custkey) AS min_key, max(c_custkey) AS max_key
    FROM customer
    """,
    tags=("streaming", "source", "fixture"),
)
def streaming_hbasekv_changefeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `hbasekv` Python DataSource driven as a STREAM: the customer
    table is split into two rowkey-sorted 'flush files' (the memstore-
    flush changefeed analogue), consumed by `readStream.format('hbasekv')`
    through the full DataSourceStreamReader (one input partition per new
    file, executor-side pyarrow decode), aggregated in complete mode. On
    the finite input the drained stream must equal the batch aggregate
    over the whole table — proving the streaming scan decodes
    cell-for-cell what the batch scan does."""
    import hashlib
    import json
    import os

    import pyarrow.parquet as pq

    from spark_hbase_connector_spark.sources.python_datasource import register_hbasekv

    base = (
        "/tmp/spark_hbase_connector_fixtures/kv_stream_"
        + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    )
    os.makedirs(base, exist_ok=True)
    for f in os.listdir(base):
        os.remove(os.path.join(base, f))
    t = pq.read_table(
        f"{sf_dir}/customer.parquet", columns=["c_custkey", "c_name", "c_acctbal"]
    ).sort_by("c_custkey")
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), f"{base}/00000.parquet")
    pq.write_table(t.slice(half), f"{base}/00001.parquet")

    register_hbasekv(spark)
    catalog = {
        "table": "stream:customer",
        "rowkey": "c_custkey",
        "columns": {
            "c_custkey": {"cf": "rowkey", "col": "c_custkey", "type": "long"},
            "c_name": {"cf": "info", "col": "c_name", "type": "string"},
            "c_acctbal": {"cf": "info", "col": "c_acctbal", "type": "double"},
        },
    }
    stream = (
        spark.readStream.format("hbasekv")
        .option("catalog", json.dumps(catalog))
        .option("path", base)
        .load()
    )
    agg = stream.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        # money rule (CLAUDE.md): the global balance sum reaches ~7e9 at
        # sf10, where double summation-order noise flips the 4th decimal
        # (caught by the round-7d expanded sf10 sweep) — exact fixed-point
        # cents (q1 recipe; sign-safe, no rounding division involved)
        (
            F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).cast(
                "double"
            )
            / 100
        ).alias("total_bal"),
        F.min("c_custkey").alias("min_key"),
        F.max("c_custkey").alias("max_key"),
    )
    return run_stream_to_memory(agg, spark)


@query(
    "streaming_dropdup_within_watermark",
    oracle="""
    SELECT DISTINCT user_id,
           make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS hour_start
    FROM events
    """,
    tags=("streaming", "dedup", "watermark"),
)
def streaming_dropdup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-BOUNDED streaming dedup: ``dropDuplicatesWithinWatermark``
    emits each (user_id, hour) once and — unlike plain ``dropDuplicates``,
    whose key state grows forever — evicts a key's state once the
    watermark passes its event time. That bound is what makes streaming
    dedup viable on an unbounded 100 TB ingest: state is O(keys per
    watermark horizon), not O(all keys ever). On this bounded input the
    delay (30 days) exceeds the event-time span, so no key re-emits and
    the result equals batch DISTINCT — the semantics the oracle replays;
    in production the delay is the dedup horizon contract (duplicates
    farther apart than the delay may re-emit, by design)."""
    stream = events_stream(spark, sf_dir)
    keyed = stream.select(
        "user_id",
        F.date_trunc("hour", F.col("ts")).alias("hour_start"),
        F.col("ts"),
    ).withWatermark("ts", "30 days")
    dedup = keyed.dropDuplicatesWithinWatermark(["user_id", "hour_start"]).select(
        "user_id", "hour_start"
    )
    return run_stream_to_memory(dedup, spark, mode="append")


@query(
    "streaming_chained_agg",
    oracle="""
    WITH q AS (
      SELECT make_timestamp((epoch_us(ts) // 900000000) * 900000000) AS w15,
             event_type, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    h AS (
      SELECT make_timestamp((epoch_us(w15) // 3600000000) * 3600000000)
               AS hour_start,
             event_type, max(n) AS max_15m_n, CAST(sum(n) AS BIGINT) AS hour_n
      FROM q GROUP BY 1, 2
    ),
    wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events)
    SELECT h.* FROM h, wm WHERE hour_start + INTERVAL 1 HOUR <= w
    """,
    tags=("streaming", "chained", "watermark"),
)
def streaming_chained_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained stateful streaming aggregation (15-min counts re-windowed
    into hourly max/sum) in a single append-mode query — Spark 4's
    multiple-stateful-operator support. The oracle replays agg-of-agg and
    the append emission rule (hour end <= final watermark); see
    `chained_window_agg` for why every inner window inside an emitted
    hour is already final."""
    from spark_hbase_connector_spark.streaming.events import chained_window_agg

    stream = events_stream(spark, sf_dir)
    return run_stream_to_memory(
        chained_window_agg(stream, "15 minutes", "1 hour", "10 minutes"),
        spark,
        mode="append",
    )


@query(
    "streaming_latest_per_key",
    oracle="""
    SELECT user_id, epoch_us(ts) AS last_ts_us, event_id AS last_event_id,
           round(value, 4) AS last_value
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    tags=("streaming", "cdc", "stateful"),
)
def streaming_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC read model: per-user latest event (by event time,
    event_id tiebreak) maintained as custom keyed state across
    micro-batches (`latest_per_key_stateful`). The memory sink accretes
    one update row per touched key per batch; reading the view takes the
    newest update per key — exactly how a downstream store would apply
    the update stream. Oracle = batch latest-row-per-key."""
    from spark_hbase_connector_spark.streaming.events import latest_per_key_stateful

    stream = events_stream(spark, sf_dir)
    emitted = run_stream_to_memory(latest_per_key_stateful(stream), spark, mode="update")
    w = Window.partitionBy("user_id").orderBy(
        F.col("last_ts_us").desc(), F.col("last_event_id").desc()
    )
    return (
        emitted.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


@query(
    "streaming_session_dynamic_gap",
    oracle="""
    WITH gaps AS (
      SELECT user_id, event_type, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >
                     CASE WHEN event_type = 'click'
                          THEN INTERVAL 10 MINUTE ELSE INTERVAL 30 MINUTE END
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, event_type, ts, value,
             sum(is_new) OVER (PARTITION BY user_id, event_type
                               ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sid
      FROM gaps
    )
    SELECT user_id, event_type, min(ts) AS session_start,
           count(*) AS n_events, round(sum(value), 4) AS session_value
    FROM sess GROUP BY user_id, event_type, sid
    """,
    tags=("streaming", "sessionize", "dynamic-gap"),
)
def streaming_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING dynamic-gap sessionization: the same per-row gap
    expression as batch `sessionize_dynamic_gap` (clicks 10 min, others
    30) driven through a real readStream session_window aggregation —
    per-key inactivity contracts with bounded streaming state, a shape
    fixed-gap streaming sessions cannot express. Oracle = the batch
    islands replay (streaming on bounded input == batch)."""
    stream = events_stream(spark, sf_dir)
    gap = F.when(F.col("event_type") == "click", F.lit("10 minutes")).otherwise(
        F.lit("30 minutes")
    )
    agg = (
        stream.groupBy("user_id", "event_type", F.session_window("ts", gap))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("session_value"),
            F.min("ts").alias("session_start"),
        )
        .select(
            "user_id", "event_type", "session_start", "n_events", "session_value"
        )
    )
    return run_stream_to_memory(agg, spark)


@query(
    "streaming_hourly_unique_users",
    oracle="""
    WITH du AS (
      SELECT DISTINCT user_id,
             make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS hour_start
      FROM events
    ),
    agg AS (
      SELECT hour_start, count(*) AS unique_users FROM du GROUP BY hour_start
    ),
    wm AS (SELECT max(make_timestamp((epoch_us(ts) // 3600000000) * 3600000000))
                  - INTERVAL 10 MINUTE AS w FROM events)
    SELECT agg.* FROM agg, wm WHERE hour_start + INTERVAL 1 HOUR <= w
    """,
    tags=("streaming", "dedup", "chained"),
)
def streaming_hourly_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DAU-style metric: dropDuplicatesWithinWatermark on
    (user, hour) feeding a watermarked hourly count — the OTHER
    multi-stateful chain (dedup -> aggregation in one query; the
    agg -> agg case is `streaming_chained_agg`). Both operators share
    the watermark: dedup state evicts an hour after it passes, the
    window emits once final — exact unique-user counts on an unbounded
    stream with bounded state, no approximate sketch needed when the key
    space per window fits state. Oracle: batch distinct-then-count with
    the append emission rule."""
    stream = events_stream(spark, sf_dir)
    # ONE watermark, attached to the column BOTH stateful operators key
    # their event time on (redefining a watermark mid-query is
    # disallowed): hour_start floors ts, so the effective watermark is
    # max(observed hour) - delay — the oracle replays exactly that
    keyed = (
        stream.select(
            "user_id",
            F.date_trunc("hour", F.col("ts")).alias("hour_start"),
        )
        .withWatermark("hour_start", "10 minutes")
        .dropDuplicatesWithinWatermark(["user_id", "hour_start"])
    )
    agg = (
        keyed.groupBy(F.window("hour_start", "1 hour"))
        .agg(F.count(F.lit(1)).alias("unique_users"))
        .select(F.col("window.start").alias("hour_start"), "unique_users")
    )
    return run_stream_to_memory(agg, spark, mode="append")


@query(
    "streaming_cdc_merge",
    oracle="""
    WITH latest AS (
      SELECT user_id, value, ts, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, round(value, 4) AS value, ts
    FROM latest WHERE rn = 1 AND event_type <> 'error'
    """,
    tags=("streaming", "cdc", "merge", "sink"),
)
def streaming_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply via MERGE-per-micro-batch — the lakehouse changefeed
    pattern (`operators/upsert.cdc_apply_mutations` inside foreachBatch):
    the event stream is a mutation feed keyed by user_id; each batch
    reduces to its newest mutation per key ((ts, event_id) total order),
    then merges into the parquet state table last-writer-wins. The final
    state is BATCH-SPLIT-INDEPENDENT by construction, not by delivery
    luck: every matched verb is gated on (s.ts, s.event_id) >=
    (b.ts, b.event_id) so a stale mutation in a late batch is a no-op,
    and deletes persist as tombstone rows (deleted flag) so a stale
    pre-delete mutation cannot resurrect the key via the NOT MATCHED
    branch (batch-order independence is unit-proven over adversarial
    splits in tests/test_operators.py). The oracle is therefore the
    global latest-per-key with tombstones dropped, however the files
    happened to arrive. Replaying a crashed epoch re-merges identical
    mutations into identical state — idempotent, exactly-once without
    sink transactions. At 100 TB the state rewrite per batch is the real
    cost: partition the state table and rewrite only partitions
    containing touched keys; purge tombstones via compaction once the
    watermark passes them (the same economics as any lakehouse MERGE)."""
    import uuid

    from spark_hbase_connector_spark.operators.upsert import cdc_apply_mutations

    stream = events_stream(spark, sf_dir)
    state_dir = (
        f"/tmp/spark_hbase_connector_fixtures/cdc_merge_{uuid.uuid4().hex[:10]}"
    )
    state_schema = (
        "user_id long, value double, ts timestamp, event_id long, deleted boolean"
    )

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        try:
            base = spark.read.parquet(state_dir)
        except Exception:
            base = spark.createDataFrame([], state_schema)
        merged = cdc_apply_mutations(base, batch_df)
        # materialize BEFORE overwriting the path the plan reads from
        merged = merged.localCheckpoint(eager=True)
        merged.write.mode("overwrite").parquet(state_dir)

    q = stream.writeStream.outputMode("append").foreachBatch(apply_batch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return (
        spark.read.parquet(state_dir)
        .where(~F.col("deleted"))
        .select("user_id", F.round("value", 4).alias("value"), "ts")
    )
