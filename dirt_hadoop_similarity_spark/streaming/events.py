"""Structured Streaming operators over the events stream.

The reference is pure batch (SURVEY.md §2.8) — this module is the
extension surface a continuously-ingesting corpus needs.  Every
transformation is written against a generic DataFrame so the SAME
function serves the batch table and the streaming source
(:func:`stream_events`); watermarks bound state only when the input is a
stream.

Local smoke testing uses the parquet file source + an in-memory sink and
``processAllAvailable()`` — the documented pattern for driving a
streaming query to a deterministic finish on static data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the event-time column for watermarking.

    The current testdata stores ts as TIMESTAMP micros (naive → Spark
    reads TIMESTAMP_NTZ) — this build's watermarks demand TIMESTAMP
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE), so cast; the session pins
    UTC (session.py), making the cast value-preserving, and batch and
    stream sides both pass through here so they stay consistent.
    A bigint ts is the legacy TIMESTAMP(NANOS) read via nanosAsLong
    (see session.py): truncate to micros, what DuckDB does with the
    same file."""
    if dict(df.dtypes).get("ts") == "timestamp_ntz":
        from dirt_hadoop_similarity_spark.session import require_fixed_offset_tz

        # the NTZ→TIMESTAMP cast is only window-safe under a constant
        # zone offset; fail loudly instead of resting on session.py
        require_fixed_offset_tz()
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
        )
    return df


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling (or sliding) window counts + sums per event type.

    Works on both batch and streaming inputs; the watermark bounds state
    for late data in streaming mode and is a no-op in batch."""
    ev = normalize_event_ts(events)
    if ev.isStreaming:
        ev = ev.withWatermark("ts", watermark)
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return ev.groupBy(win.alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("total_value"),
    ).select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "event_type",
        "n",
        "total_value",
    )


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the static events parquet (smoke/demo)."""
    return (
        spark.readStream.format("parquet")
        .schema(EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )


def purchases_before_errors(events: DataFrame,
                            window_seconds: int = 1800) -> DataFrame:
    """Stream-stream interval join: for each error event, the purchases
    of the same user in the preceding ``window_seconds``.

    On streaming inputs both sides carry watermarks so the join state is
    bounded; on batch inputs the same expression is a plain range join
    (oracle: plans/queries_more.range_join_events)."""
    ev = normalize_event_ts(events)
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("error_ts"), F.col("event_id").alias("error_id")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts")
    )
    if events.isStreaming:
        errors = errors.withWatermark("error_ts", "1 hour")
        purchases = purchases.withWatermark("purchase_ts", "1 hour")
    return errors.join(
        purchases,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("purchase_ts") < F.col("error_ts"))
        & (
            F.col("purchase_ts")
            >= F.col("error_ts") - F.expr(f"INTERVAL {window_seconds} SECOND")
        ),
    ).select("user_id", "error_id", "error_ts", "purchase_ts")


def dedup_events(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("event_id",),
    watermark: str = "1 hour",
) -> DataFrame:
    """Exactly-once event dedup for at-least-once sources.

    Batch → plain ``dropDuplicates``.  Streaming →
    ``dropDuplicatesWithinWatermark``: plain ``dropDuplicates`` on a
    stream keeps EVERY key seen forever (unbounded state — the classic
    footgun); the watermarked variant evicts keys once the event-time
    horizon passes, so state is bounded by (watermark × arrival rate)
    while still deduplicating any duplicate that arrives within the
    horizon — the delivery guarantee replayed sources actually need."""
    ev = normalize_event_ts(events)
    if ev.isStreaming:
        return ev.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            list(key_cols)
        )
    return ev.dropDuplicates(list(key_cols))


def sessionize_stateful(
    events: DataFrame, gap_seconds: int = 1800
) -> DataFrame:
    """Custom stateful session counting via applyInPandasWithState:
    per user, a session closes when no event arrives within
    ``gap_seconds``.  Emits (user_id, n_sessions, n_events) as state
    times out / the stream ends.

    This is the streaming analogue of plans/queries.sessionize — the
    batch window version is the oracle for its semantics.  Null
    event-times are dropped (the batch family's round-13 contract;
    a NaT would otherwise enter the stamp sort as int64-min)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = (
        normalize_event_ts(events)
        .select("user_id", "ts", "event_id")
        .filter(F.col("ts").isNotNull())
    )

    def update(key, pdfs, state):
        import pandas as pd

        (user_id,) = key
        last_ts, n_sessions, n_events = (
            state.get if state.exists else (None, 0, 0)
        )
        stamps = []
        for pdf in pdfs:
            stamps.extend(
                int(t.value // 1000) for t in pd.to_datetime(pdf["ts"])
            )
        stamps.sort()
        for us in stamps:
            if last_ts is None or us - last_ts > gap_seconds * 1_000_000:
                n_sessions += 1
            last_ts = us
            n_events += 1
        state.update((last_ts, n_sessions, n_events))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_sessions": [n_sessions],
                "n_events": [n_events],
            }
        )

    return ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_sessions long, n_events long",
        stateStructType="last_ts long, n_sessions long, n_events long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
