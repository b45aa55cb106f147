"""Structured Streaming surface over the `events` table (SURVEY.md §7.2
phase 7): incremental versions of the batch window operators in
operators/events.py — tumbling/sliding windows with watermarks, session
windows, streaming dedup, and a custom stateful operator
(applyInPandasWithState).

The reference has no streaming (SURVEY.md §1.4) — this is north-star
surface. Local runs drive a parquet-file source to completion with
processAllAvailable() + a memory sink (test harness only); a production
deployment swaps source/sink (kafka, files) without touching the
transformations, which is the point of expressing them on the streaming
DataFrame API.

Scale notes: state size is bounded by watermarks (late data beyond
10 minutes is dropped); the stateful operator keys on user_id so state
shards across executors; complete-mode memory sinks below are test-only.
"""

from __future__ import annotations

import os
import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from kuibadb_spark.catalog import table_path
from kuibadb_spark.operators import events as event_ops


def _events_ts_is_nanos(sf_dir: str) -> bool:
    """Fixture generations differ: ts is TIMESTAMP(NANOS) (read as raw long
    under the legacy conf) in older data, TIMESTAMP(MICROS) in newer. One
    footer read settles which shim applies (see catalog.load). The table
    may be a single file (driver fixtures) or a directory of part files
    (engine/Spark-written tables) — read the first footer either way."""
    import glob
    import os

    import pyarrow.parquet as pq

    p = table_path(sf_dir, "events")
    if os.path.isdir(p):
        p = sorted(glob.glob(os.path.join(p, "*.parquet")))[0]
    t = pq.read_schema(p).field("ts").type
    return "ns" in str(t)


def _raw_schema(ts_type: T.DataType) -> T.StructType:
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


def _stream_dir(sf_dir: str) -> str:
    """The parquet stream source requires a directory; a single-file
    fixture is exposed through a symlink dir (no data copy), while a
    directory table (engine/Spark-written) streams as-is."""
    import hashlib
    import os

    src = table_path(sf_dir, "events")
    if os.path.isdir(src):
        return src
    d = f"/tmp/kuibadb_stream_{hashlib.md5(src.encode()).hexdigest()[:10]}"
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    try:
        os.symlink(src, link)
    except FileExistsError:
        # os.path.exists FOLLOWS symlinks, so a DANGLING link (fixture
        # deleted/regenerated) read as absent while symlink() still
        # refused — the old check-then-create crashed every later call
        # with FileExistsError (round-6 review). Retarget only when
        # dangling; a concurrent creator's valid link is left alone.
        # The repair itself is ATOMIC (round-6 ADVICE): the old
        # remove→symlink pair had a TOCTOU window where two concurrent
        # repairers both removed the dangling link and the slower
        # symlink() raised FileExistsError again — create the new link
        # at a unique temp name and rename() it over the old one
        # (rename replaces atomically; either racer's link wins, both
        # point at src).
        if not os.path.exists(link):
            tmp = f"{link}.{uuid.uuid4().hex[:8]}.tmp"
            os.symlink(src, tmp)
            os.rename(tmp, link)
    return d


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Watermarks require TimestampType (instants); pin the session to UTC
    # so the instant's wall-clock equals the file's naive timestamps, and
    # cast back to timestamp_ntz at the output edge.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if _events_ts_is_nanos(sf_dir):
        raw = spark.readStream.schema(_raw_schema(T.LongType())).parquet(
            _stream_dir(sf_dir)
        )
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    raw = spark.readStream.schema(_raw_schema(T.TimestampNTZType())).parquet(
        _stream_dir(sf_dir)
    )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_counts(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(F.col("w.start").alias("ws"), "event_type", "n", "total_value")
    )


def session_values(events: DataFrame, gap: str = "10 minutes") -> DataFrame:
    return (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def streaming_dedup(events: DataFrame) -> DataFrame:
    """Exactly-once by event_id within the watermark horizon.

    dropDuplicatesWithinWatermark keys on event_id ALONE (round-6
    review): the old dropDuplicates(["event_id", "ts"]) needed ts in
    the key for state eviction, but an at-least-once upstream that
    re-stamps ts on redelivery then sneaks the duplicate through —
    the key and the stated contract disagreed. The WithinWatermark
    variant evicts state on the watermark while deduping on the true
    identity column."""
    return events.withWatermark("ts", "30 minutes") \
        .dropDuplicatesWithinWatermark(["event_id"])


def _user_totals_fn(key, pdfs, state: GroupState):
    """Custom stateful operator: running per-user totals (the reference's
    extension point is a C-ABI fmgr table, src/utils/fmgr.rs:36-43; ours
    is arbitrary Python over Arrow batches with managed state)."""
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n": [n], "total_value": [round(total, 2)]}
    )


def stateful_user_totals(events: DataFrame) -> DataFrame:
    return events.groupBy("user_id").applyInPandasWithState(
        _user_totals_fn,
        outputStructType="user_id long, n long, total_value double",
        stateStructType="n long, total_value double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    """1-hour windows every 30 minutes, incrementally maintained."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "(sum(CAST(round(value * 100) AS BIGINT)) * 100) div count(1)"
            ).alias("avg_value_e4"),
        )
        .select(F.col("w.start").alias("ws"), "n", "avg_value_e4")
    )


def ohlc_hourly(events: DataFrame) -> DataFrame:
    """Incremental per-hour OHLC candlesticks: open/close via min_by/
    max_by on the (ts, event_id) struct — a purely declarative aggregate,
    so it runs in a streaming groupBy (no window-function rank, which
    streaming can't do) and converges to the batch ts_ohlc_downsample
    answer. State per hour bucket is O(1): the running min/max structs
    and sum/count — the canonical always-on metrics-rollup shape."""
    key = F.struct("ts", "event_id")
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("volume"),
        )
        .select(
            F.col("w.start").alias("hr"),
            "open", "high", "low", "close", "n_events", "volume",
        )
    )


def stream_static_join(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream–static join: per-microbatch hash join against a static dim
    (broadcast — the dim is small and immutable for the query's life)."""
    return events.join(F.broadcast(dim), "user_id", "left")


def write_foreach_batch(events: DataFrame, out_dir: str,
                        checkpoint_dir: str | None = None) -> None:
    """Exactly-once file sink via foreachBatch: each micro-batch is
    written transactionally keyed by batch id (idempotent on replay).

    The batch-id-keyed overwrite is only idempotent when batch ids are
    STABLE across restarts, which requires a checkpoint (round-6
    review: without one, a re-run restarts epoch ids at 0 and can pack
    all data into batch=0 while stale batch=N dirs from the previous
    run survive — readers see those rows twice). Defaults to a
    checkpoint INSIDE out_dir so re-runs of the same sink resume
    instead of restarting."""

    def sink(df: DataFrame, epoch_id: int) -> None:
        df.write.mode("overwrite").parquet(f"{out_dir}/batch={epoch_id}")

    q = (
        events.writeStream
        .option("checkpointLocation",
                checkpoint_dir or f"{out_dir}/_checkpoint")
        .foreachBatch(sink)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def write_stream_to_table(events: DataFrame, engine, name: str,
                          checkpoint_dir: str):
    """Streaming ingest into an engine manifest table: each micro-batch
    commits ONE manifest version (Engine.insert → atomic swap), and the
    last-committed batch id rides in the SAME swap as a table prop —
    so a batch replayed after restart (foreachBatch is at-least-once)
    is detected and skipped, giving exactly-once TABLE state. Combine
    with engine.stream(name) on the other side and manifest tables
    become both streaming sink and source — the lakehouse CDC loop.

    Scale: the sink adds zero coordination beyond the manifest swap the
    engine already does per commit; state lives in the table itself
    (batch-id prop), so recovery needs only the Spark checkpoint plus
    the manifest — no external metastore. Returns the StreamingQuery
    (caller drives/stops it); use trigger(availableNow) semantics by
    letting the finite parquet source drain via processAllAvailable."""
    from kuibadb_spark.engine import Engine
    from kuibadb_spark.plans import manifest as mf

    # The replay guard is keyed by the STREAMING QUERY id (round-6
    # review), not a single global prop: query ids live in the
    # checkpoint's metadata file, so they are stable across restarts of
    # the same checkpoint (replays are skipped) and DIFFERENT for a
    # fresh checkpoint or a second stream into the same table — whose
    # batch-0 must NOT be swallowed because some other query once
    # committed a higher batch id (that failure mode silently dropped
    # data forever). The trade is explicit and the safe one: a lost
    # checkpoint re-ingests (duplicates, visible and fixable) instead
    # of silently losing everything after the old high-water mark.
    import json as _json

    qid: dict = {}

    def _query_key() -> str:
        if "v" not in qid:
            try:
                with open(os.path.join(checkpoint_dir, "metadata")) as f:
                    qid["v"] = _json.load(f)["id"]
            except (OSError, ValueError, KeyError):
                qid["v"] = "default"
        return qid["v"]

    # Batches commit through the sink's own autocommit engine: one landing
    # in a transaction the caller has open would vanish on its ROLLBACK
    # while the checkpoint already marks the batch done.
    writer = Engine(engine.spark, engine.warehouse)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        tdir = writer._table_dir(name)
        prop = f"stream_last_batch::{_query_key()}"
        last = mf.read_manifest(tdir)["props"].get(prop, -1)
        if batch_id <= last:
            return  # replayed batch after restart — already committed
        writer.insert(name, batch_df, props_update={prop: batch_id})

    return (
        events.writeStream
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
        .start()
    )


def run_to_memory(df: DataFrame, mode: str = "complete") -> DataFrame:
    """Drive a streaming frame to completion into a memory sink (local
    test harness; the parquet source feeds finite input so
    processAllAvailable terminates)."""
    name = f"ks_mem_{uuid.uuid4().hex[:10]}"
    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return df.sparkSession.table(name)


# -- registry entries: streaming pipelines whose final answer is checkable
# against the same SQL oracle as the batch equivalent ----------------------
def stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = run_to_memory(tumbling_counts(read_events_stream(spark, sf_dir)))
    return out.withColumn("ws", F.col("ws").cast("timestamp_ntz")).orderBy(
        "ws", "event_type"
    )


def stream_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = run_to_memory(
        stateful_user_totals(read_events_stream(spark, sf_dir)), mode="update"
    )
    # update-mode memory sink may hold one row per micro-batch per user;
    # the final state is the max-n row per user
    w_latest = out.groupBy("user_id").agg(
        F.max_by("total_value", "n").alias("total_value"),
        F.max("n").alias("n"),
    )
    return w_latest.select("user_id", "n", "total_value").orderBy("user_id")


def stream_sliding_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = run_to_memory(sliding_counts(read_events_stream(spark, sf_dir)))
    return out.withColumn("ws", F.col("ws").cast("timestamp_ntz")).orderBy("ws")


def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = run_to_memory(session_values(read_events_stream(spark, sf_dir)))
    return (
        out.withColumn("session_start", F.col("session_start").cast("timestamp_ntz"))
        .withColumn("session_end", F.col("session_end").cast("timestamp_ntz"))
        .orderBy("user_id", "session_start")
    )


def stream_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = run_to_memory(ohlc_hourly(read_events_stream(spark, sf_dir)))
    return out.withColumn("hr", F.col("hr").cast("timestamp_ntz")).orderBy("hr")


QUERIES = {
    "stream_tumbling_hourly": stream_tumbling_hourly,
    "stream_ohlc_hourly": stream_ohlc_hourly,
    "stream_stateful_user_totals": stream_stateful_user_totals,
    "stream_sliding_hourly": stream_sliding_hourly,
    "stream_session_windows": stream_session_windows,
}

ORACLES = {
    # identical oracle as the batch OHLC query — streaming min_by/max_by
    # on (ts, event_id) == batch row_number open/close
    "stream_ohlc_hourly": """
        SELECT hr,
               max(CASE WHEN rn_a = 1 THEN value END) AS open,
               max(value) AS high,
               min(value) AS low,
               max(CASE WHEN rn_d = 1 THEN value END) AS close,
               count(*) AS n_events,
               round(sum(value), 2) AS volume
        FROM (
            SELECT date_trunc('hour', ts) AS hr, value,
                   row_number() OVER (PARTITION BY date_trunc('hour', ts)
                                      ORDER BY ts, event_id) AS rn_a,
                   row_number() OVER (PARTITION BY date_trunc('hour', ts)
                                      ORDER BY ts DESC, event_id DESC) AS rn_d
            FROM events
        )
        GROUP BY hr
        ORDER BY hr
    """,
    # identical oracle as the batch tumbling query — the streaming pipeline
    # must converge to the batch answer (complete mode, finite source)
    "stream_tumbling_hourly": """
        SELECT date_trunc('hour', ts) AS ws, event_type,
               count(*) AS n, round(sum(value), 2) AS total_value
        FROM events
        GROUP BY ws, event_type
        ORDER BY ws, event_type
    """,
    "stream_stateful_user_totals": """
        SELECT user_id, count(*) AS n, round(sum(value), 2) AS total_value
        FROM events
        GROUP BY user_id
        ORDER BY user_id
    """,
    # identical oracle as the batch sliding-window query
    "stream_sliding_hourly": """
        SELECT ws, count(*) AS n,
               CAST((sum(CAST(round(value * 100, 0) AS BIGINT)) * 100)
                    // count(*) AS BIGINT) AS avg_value_e4
        FROM (
            SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
                           time_bucket(INTERVAL '30 minutes', ts)
                               - INTERVAL 30 MINUTE]) AS ws
                 , value
            FROM events
        )
        GROUP BY ws
        ORDER BY ws
    """,
    # identical gaps-and-islands oracle as the batch session-window query
    "stream_session_windows": """
        WITH ordered AS (
            SELECT user_id, ts, value,
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       AS prev_ts
            FROM events
        ), flagged AS (
            SELECT user_id, ts, value,
                   CASE WHEN prev_ts IS NULL
                             OR ts - prev_ts > INTERVAL 10 MINUTE
                        THEN 1 ELSE 0 END AS new_session
            FROM ordered
        ), numbered AS (
            SELECT user_id, ts, value,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
            FROM flagged
        )
        SELECT user_id,
               min(ts) AS session_start,
               max(ts) + INTERVAL 10 MINUTE AS session_end,
               count(*) AS n_events,
               round(sum(value), 2) AS session_value
        FROM numbered
        GROUP BY user_id, sid
        ORDER BY user_id, session_start
    """,
}


def run_resumable(df: DataFrame, sink_dir: str, checkpoint_dir: str,
                  mode: str = "append") -> None:
    """Drive a streaming frame over all currently-available input into a
    parquet sink WITH a checkpoint, then stop. Calling it again after new
    input arrives resumes from the checkpoint: already-committed source
    files are not reprocessed (exactly-once sink) and stateful operators
    recover their state store — the restart-safety contract a production
    pipeline needs (the reference's WAL-replay durability analog;
    src/access/wal.rs — here Spark's checkpoint/WAL does the replay)."""
    q = (
        df.writeStream.outputMode(mode)
        .format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)  # bounded incremental batch, then stop
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()


# -- Spark 4 transformWithState: typed state machine per key ----------------
class _UserMinMaxProcessor:
    """StatefulProcessor tracking per-user running (count, min, max) in a
    typed ValueState cell — the Spark 4 successor to
    applyInPandasWithState (stateful_user_totals above): named state
    variables (value/list/map) + timers instead of one opaque tuple,
    RocksDB-backed so state can exceed executor memory.

    (Declared as a plain class and wrapped at call time: importing
    StatefulProcessor at module import would hard-depend streaming
    registry loads on the Spark 4 API.)"""

    def init(self, handle) -> None:
        self._agg = handle.getValueState(
            "agg", "n BIGINT, mn DOUBLE, mx DOUBLE"
        )

    def handleInputRows(self, key, rows, timerValues):
        if self._agg.exists():
            n, mn, mx = self._agg.get()
        else:
            n, mn, mx = 0, None, None
        for pdf in rows:
            n += len(pdf)
            cmn = float(pdf["value"].min())
            cmx = float(pdf["value"].max())
            mn = cmn if mn is None else min(mn, cmn)
            mx = cmx if mx is None else max(mx, cmx)
        self._agg.update((n, mn, mx))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n": [n],
                "min_value": [mn],
                "max_value": [mx],
            }
        )

    def close(self) -> None:
        pass


def tws_user_minmax(events: DataFrame) -> DataFrame:
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    proc = type(
        "UserMinMaxProcessor", (_UserMinMaxProcessor, StatefulProcessor), {}
    )()
    return events.groupBy("user_id").transformWithStateInPandas(
        proc,
        outputStructType="user_id long, n long, min_value double, max_value double",
        outputMode="Update",
        timeMode="None",
    )


def stream_tws_user_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    # transformWithState requires the RocksDB state store provider
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        out = run_to_memory(
            tws_user_minmax(read_events_stream(spark, sf_dir)), mode="update"
        )
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    # update mode re-emits a key's row per micro-batch; the final state
    # row is the one with the largest n (counts are monotone)
    w = F.struct("n", "min_value", "max_value")
    return (
        out.groupBy("user_id")
        .agg(F.max(w).alias("s"))
        .select("user_id", "s.n", "s.min_value", "s.max_value")
        .orderBy("user_id")
    )


def _tws_available() -> bool:
    """transformWithStateInPandas talks to a JVM state server over
    protobuf; the google.protobuf runtime is not shipped in this
    container, so the operator is import-gated (the brief's stub/gate
    pattern) instead of registered in the driver contract — see
    tests/test_streaming2.py for the gated correctness check."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def latest_per_user(events: DataFrame) -> DataFrame:
    """Streaming CDC compaction: the same max_by argmax-row aggregate as
    the batch ev_latest_per_user — declarative and associative, so it
    runs incrementally in update mode with O(1) state per user."""
    key = F.struct("ts", "event_id")
    return events.groupBy("user_id").agg(
        F.max_by(F.struct("event_id", "ts", "event_type", "value"), key).alias(
            "last"
        ),
        F.count(F.lit(1)).alias("n_events"),
    )


def stream_latest_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = run_to_memory(
        latest_per_user(read_events_stream(spark, sf_dir)), mode="update"
    )
    # update mode re-emits per micro-batch; the final state row per user
    # has the largest n_events (monotone)
    final = (
        out.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "last")).alias("s"))
        .select("user_id", "s.last.*", F.col("s.n_events").alias("n_events"))
    )
    return (
        final.selectExpr(
            "user_id",
            "event_id AS last_event_id",
            "CAST(ts AS TIMESTAMP_NTZ) AS last_ts",
            "event_type AS last_type",
            "value AS last_value",
            "n_events",
        )
        .orderBy("user_id")
    )


QUERIES["stream_latest_per_user"] = stream_latest_per_user
# converges to the batch CDC-compaction answer (same oracle as
# ev_latest_per_user)
ORACLES["stream_latest_per_user"] = """
    SELECT user_id, event_id AS last_event_id, ts AS last_ts,
           event_type AS last_type, value AS last_value, n_events
    FROM (
        SELECT user_id, event_id, ts, event_type, value,
               count(*) OVER (PARTITION BY user_id) AS n_events,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    WHERE rn = 1
    ORDER BY user_id
"""


def error_rate_timeline(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Incremental SLO dashboard: hourly error share in exact integer ppm
    — the streaming twin of the batch ev_error_rate_timeline. count_if
    and count are both associative, so the window aggregate runs with
    partial state per (hour) and the ppm division is a projection of the
    final counts (exact cross-multiplied integers, no float drift
    between incremental and batch execution)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_if(F.col("event_type") == "error").alias("n_errors"),
        )
        .selectExpr(
            "w.start AS hr",
            "n_events",
            "n_errors",
            "CAST((1000000 * n_errors) div n_events AS BIGINT) AS error_ppm",
        )
    )


def stream_error_rate_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = run_to_memory(error_rate_timeline(read_events_stream(spark, sf_dir)))
    return out.withColumn("hr", F.col("hr").cast("timestamp_ntz")).orderBy("hr")


QUERIES["stream_error_rate_timeline"] = stream_error_rate_timeline

# identical oracle as the batch ev_error_rate_timeline — streaming must
# converge to the batch answer on the finite source
ORACLES["stream_error_rate_timeline"] = """
    SELECT date_trunc('hour', ts) AS hr,
           count(*) AS n_events,
           CAST(count_if(event_type = 'error') AS BIGINT) AS n_errors,
           CAST((1000000 * count_if(event_type = 'error')) // count(*)
                AS BIGINT) AS error_ppm
    FROM events
    GROUP BY hr
    ORDER BY hr
"""


def stream_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ev_anomaly_zscore, in the two-tier shape
    Structured Streaming actually allows (chained stream aggregations
    are unsupported): the STREAM maintains the per-(hour, type) count
    state incrementally — the only fact-proportional work — and the
    z-scoring runs as a batch pass over that compact materialized
    aggregate (hours × types rows), exactly how a production scoring
    job reads a continuously-maintained rollup table. Same
    integer-exact moment formula as the batch op, so the streamed
    answer converges to the batch oracle on the finite source."""
    hourly = run_to_memory(
        read_events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.date_trunc("hour", "ts").alias("hr"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # rename the stats key: both sides derive from the same memory view,
    # and a same-attribute self-join trips conflicting-reference
    # resolution on MemoryPlan
    stats = hourly.groupBy(
        F.col("event_type").alias("et")
    ).agg(
        F.sum("n").alias("s1"),
        F.sum(F.col("n") * F.col("n")).alias("s2"),
        F.count(F.lit(1)).alias("cnt"),
    )
    mu = F.col("s1") / F.col("cnt")
    var = F.col("s2") / F.col("cnt") - mu * mu
    return (
        hourly.join(
            F.broadcast(stats), F.col("event_type") == F.col("et")
        )
        .withColumn("mu", F.round(mu, 4))
        .withColumn("z", F.round((F.col("n") - mu) / F.sqrt(var), 4))
        .filter(F.abs(F.col("z")) >= 1.5)
        .withColumn("hr", F.col("hr").cast("timestamp_ntz"))
        .select("event_type", "hr", "n", "mu", "z")
        .orderBy("event_type", "hr")
    )


QUERIES["stream_anomaly_zscore"] = stream_anomaly_zscore

# identical oracle as batch ev_anomaly_zscore — streaming must converge
ORACLES["stream_anomaly_zscore"] = """
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS hr, event_type, count(*) AS n
        FROM events GROUP BY hr, event_type
    ),
    stats AS (
        SELECT event_type, sum(n) AS s1, sum(n * n) AS s2,
               count(*) AS cnt
        FROM hourly GROUP BY event_type
    )
    SELECT event_type, hr, n,
           round(s1 / cnt, 4) AS mu,
           round((n - s1 / cnt)
                 / sqrt(s2 / cnt - (s1 / cnt) * (s1 / cnt)), 4) AS z
    FROM hourly JOIN stats USING (event_type)
    WHERE abs(round((n - s1 / cnt)
              / sqrt(s2 / cnt - (s1 / cnt) * (s1 / cnt)), 4)) >= 1.5
    ORDER BY event_type, hr
"""


def stream_daily_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact streaming DAU — the canonical stateful-dedup-then-aggregate
    chain Structured Streaming supports natively: dropDuplicates on
    (user_id, day) holds per-key dedup state (bounded by the watermark
    horizon), and the downstream daily count is then a plain associative
    aggregate — no approximate sketches, no second aggregation needed.
    Converges to the batch COUNT(DISTINCT user_id) per day on the
    finite source."""
    ev = read_events_stream(spark, sf_dir)
    daily = (
        ev.withWatermark("ts", "1 day")
        .withColumn("day", F.date_trunc("DAY", "ts"))
        # WithinWatermark, not plain dropDuplicates (round-6 review):
        # Spark only evicts dedup state when the event-time column is
        # in the subset, and `day` is a derived column carrying no
        # event-time tag — the plain form held one state entry per
        # (user, day) FOREVER on a continuous source, contradicting
        # the bounded-state claim below. WithinWatermark evicts on the
        # watermark while deduping on the (user_id, day) identity.
        .dropDuplicatesWithinWatermark(["user_id", "day"])
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("dau"))
    )
    out = run_to_memory(daily)
    return (
        out.withColumn("day", F.col("day").cast("timestamp_ntz"))
        .orderBy("day")
    )


QUERIES["stream_daily_active_users"] = stream_daily_active_users

# identical oracle as a batch daily COUNT(DISTINCT) — streaming converges
ORACLES["stream_daily_active_users"] = """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           count(DISTINCT user_id) AS dau
    FROM events
    GROUP BY day
    ORDER BY day
"""


# ---------------------------------------------------------------------------
# streaming peak concurrency: the incremental form of op 5
# ---------------------------------------------------------------------------
def stream_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental peak-concurrency: sessions maintained by Structured
    Streaming's native session_window (gap 10 min — the window end IS
    last event + gap, exactly the batch op's end padding), then the same
    two-level ±1 delta scan over the FINISHED sessions. The streaming
    half is the stateful part (session assembly under a watermark); the
    carry across hour buckets is batch post-processing on the bounded
    session list — the lambda-architecture cut every streaming overlap
    pipeline makes. Checked against the SAME oracle as batch
    ev_peak_concurrency."""
    from pyspark.sql import Window

    ev = read_events_stream(spark, sf_dir)
    sess_stream = (
        ev.withWatermark("ts", "30 minutes")
        .groupBy("user_id", F.session_window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.expr("unix_micros(w.start)").alias("s"),
            F.expr("unix_micros(w.end)").alias("e"),
        )
    )
    # complete mode: append would hold back every session the watermark
    # has not passed, silently dropping the tail ~40 min of sessions on
    # finite input (measured: last hour bucket missing + lower peak) —
    # the same reason session_values runs complete (streaming/events.py)
    sess = run_to_memory(sess_stream, mode="complete")
    bucket = 3600 * 1_000_000
    deltas = sess.selectExpr("s AS t", "1 AS d").unionAll(
        sess.selectExpr("e AS t", "-1 AS d")
    ).withColumn("hb", F.expr(f"t div {bucket}"))
    in_bucket = Window.partitionBy("hb").orderBy("t", "d").rowsBetween(
        Window.unboundedPreceding, 0
    )
    run = deltas.withColumn("r", F.sum("d").over(in_bucket))
    per_bucket = run.groupBy("hb").agg(
        F.max("r").alias("peak_in"), F.sum("d").alias("net")
    )
    carry = Window.orderBy("hb").rowsBetween(Window.unboundedPreceding, -1)
    return (
        per_bucket.withColumn(
            "base", F.coalesce(F.sum("net").over(carry), F.lit(0))
        )
        .selectExpr("hb", "CAST(base + peak_in AS BIGINT) AS peak_concurrency")
        .orderBy("hb")
    )


QUERIES["stream_peak_concurrency"] = stream_peak_concurrency
# Same delta-scan oracle EXCEPT the sessionize boundary: Spark's
# session_window is half-open [start, last+gap), so an event arriving at
# exactly last+gap starts a NEW session (split at diff >= gap), while
# the batch op's lag-scan keeps diff == gap in the same session (split
# at diff > gap). One character of SQL — the measured mismatch at
# sf0.01 was exactly the equal-boundary sessions.
ORACLES["stream_peak_concurrency"] = event_ops.ORACLES[
    "ev_peak_concurrency"
].replace("> 600000000", ">= 600000000")
assert (
    ORACLES["stream_peak_concurrency"]
    != event_ops.ORACLES["ev_peak_concurrency"]
)


# ---------------------------------------------------------------------------
# stream-stream funnel join
# ---------------------------------------------------------------------------
def stream_funnel_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→purchase conversions as a STREAM-STREAM self-join: the
    signup branch joins the purchase branch on user within a 24 h
    event-time bound, watermarks on both sides sizing the join state —
    the interval-join shape (user did X then Y within T) that only
    stream-stream joins express incrementally. The joined pairs emit in
    append mode; the per-signup-day rollup is a batch aggregate over
    the sink (chaining a second stateful agg would also work on Spark
    4; the join IS the op under test). Oracle: the identical
    time-bounded SQL join."""
    ev = read_events_stream(spark, sf_dir)
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .selectExpr("user_id AS s_user", "ts AS s_ts")
        .withWatermark("s_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .selectExpr("user_id AS p_user", "ts AS p_ts")
        .withWatermark("p_ts", "1 hour")
    )
    joined = signups.join(
        purchases,
        F.expr(
            "s_user = p_user AND p_ts >= s_ts"
            " AND p_ts <= s_ts + INTERVAL 24 HOURS"
        ),
    )
    out = run_to_memory(joined, mode="append")
    return (
        out.selectExpr("CAST(date_trunc('day', s_ts) AS timestamp_ntz) AS d")
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n_conversion_pairs"))
        .orderBy("d")
    )


QUERIES["stream_funnel_conversions"] = stream_funnel_conversions

ORACLES["stream_funnel_conversions"] = """
    WITH s AS (
        SELECT user_id, ts FROM events WHERE event_type = 'signup'
    ),
    p AS (
        SELECT user_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT CAST(date_trunc('day', s.ts) AS TIMESTAMP) AS d,
           COUNT(*) AS n_conversion_pairs
    FROM s JOIN p ON s.user_id = p.user_id
       AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 24 HOUR
    GROUP BY date_trunc('day', s.ts)
    ORDER BY d
"""


# ---------------------------------------------------------------------------
# streaming daily downtime (chained dedup -> aggregate)
# ---------------------------------------------------------------------------
def stream_daily_downtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily down-minutes, incrementally: error events dedup to one row
    per minute (watermarked dropDuplicates — bounded state), then a
    second stateful aggregate counts minutes per day — the chained
    dedup→agg shape proven by stream_daily_active_users, pointed at the
    ops metric ev_uptime_sla reads. Emits only days that saw at least
    one error minute (a streaming job cannot invent rows for silent
    days; the batch twin closes that gap with its calendar join)."""
    ev = read_events_stream(spark, sf_dir)
    per_minute = (
        ev.filter(F.col("event_type") == "error")
        .withColumn("minute", F.date_trunc("minute", "ts"))
        .withWatermark("minute", "1 hour")
        .dropDuplicates(["minute"])
    )
    daily = (
        per_minute
        .groupBy(F.window("minute", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("down_minutes"))
    )
    out = run_to_memory(daily, mode="complete")
    return (
        out.selectExpr(
            "CAST(w.start AS timestamp_ntz) AS d", "down_minutes"
        )
        .orderBy("d")
    )


QUERIES["stream_daily_downtime"] = stream_daily_downtime

ORACLES["stream_daily_downtime"] = """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
           COUNT(DISTINCT date_trunc('minute', ts)) AS down_minutes
    FROM events WHERE event_type = 'error'
    GROUP BY date_trunc('day', ts)
    ORDER BY d
"""
