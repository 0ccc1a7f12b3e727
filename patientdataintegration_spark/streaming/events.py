"""Structured Streaming lane over the `events` table (north-star
extension — the reference has no streaming, SURVEY.md §2.12; the
closest analogue is its per-epoch metric append,
`functions_v2.py:365-372`).

Design: event-time tumbling/sliding windows with a watermark for
late data. The same `tumbling_counts` transformation applies to a
batch DataFrame and a streaming DataFrame (Spark's unified API), so
correctness of the streaming path is checkable against the batch
oracle: run the stream with an `availableNow` trigger over the
static parquet, and the final counts must equal the batch groupBy.

Scale notes: a windowed streaming agg shuffles on (window, keys) and
keeps per-window state in the state store; the watermark bounds that
state (windows older than watermark are finalized and evicted) —
without it, 100 TB of history would pin unbounded state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from patientdataintegration_spark.sources.catalog import (
    enable_nanos_read,
    normalize_timestamps,
)


def tumbling_counts(
    events: DataFrame,
    window_duration: str = "5 minutes",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
    key_col: str = "event_type",
    streaming: bool = True,
) -> DataFrame:
    """Per-(window, key) count + sum over event time.

    Works identically on batch and streaming inputs; the watermark is
    only attached on the streaming side (it is a no-op hint for
    batch). Output carries window start/end as epoch seconds so
    results are engine-portable.
    """
    df = events
    if streaming:
        df = df.withWatermark(ts_col, watermark)
    agg = df.groupBy(F.window(ts_col, window_duration).alias("w"), F.col(key_col)).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )
    return agg.select(
        F.unix_timestamp("w.start").alias("bucket"),
        key_col,
        "n",
        "sum_value",
    )


def run_tumbling_counts_stream(
    spark: SparkSession,
    sf_dir: str,
    table_name: str = "stream_tumbling_counts",
    window_duration: str = "5 minutes",
) -> DataFrame:
    """Execute the tumbling-count aggregation as a real streaming
    query (file source → availableNow trigger → memory sink) and
    return the final result table.

    `availableNow` processes the backlog exactly once and stops —
    the batch-equivalent streaming execution, which makes the result
    comparable to the batch oracle while still exercising the
    streaming engine (state store, watermark, incremental planner).
    """
    # schema must be the RAW parquet schema (bigint nanos or NTZ),
    # not the catalog's normalized one
    enable_nanos_read(spark)  # vanilla sessions reject TIMESTAMP(NANOS) otherwise
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    # file stream source requires a directory; select the table file
    # with a glob filter
    stream = (
        spark.readStream.schema(raw.schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    # normalize ts→TimestampType exactly like the batch catalog does
    # (withWatermark rejects NTZ event time)
    stream = normalize_timestamps(stream)
    agg = tumbling_counts(stream, window_duration=window_duration, streaming=True)
    query: StreamingQuery = (
        agg.writeStream.format("memory")
        .queryName(table_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(table_name)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the static events parquet (schema from
    a batch peek; ts normalization mirroring sources/catalog)."""
    enable_nanos_read(spark)  # vanilla sessions reject TIMESTAMP(NANOS) otherwise
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = (
        spark.readStream.schema(raw.schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    return normalize_timestamps(stream)


def enrich_stream_static(
    spark: SparkSession,
    sf_dir: str,
    table_name: str = "stream_enriched_counts",
) -> DataFrame:
    """Stream-static join: enrich the event stream with the customer
    dimension, then aggregate per (market segment, event type).

    The static side is re-read per micro-batch with no state kept for
    it, so the join adds zero state-store cost. No explicit broadcast
    hint: customer scales linearly with SF (15M rows at SF100 — too
    big to pin as broadcast), and the per-micro-batch planner already
    auto-broadcasts the static side whenever its size stats fall
    under the threshold. The downstream count aggregate is the only
    stateful operator."""
    from patientdataintegration_spark.sources.catalog import load_table

    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )
    enriched = events_stream(spark, sf_dir).join(
        dim, F.col("user_id") == F.col("c_custkey")
    )
    agg = enriched.groupBy("c_mktsegment", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )
    query: StreamingQuery = (
        agg.writeStream.format("memory")
        .queryName(table_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(table_name)


def dedup_stream(
    spark: SparkSession,
    sf_dir: str,
    table_name: str = "stream_deduped",
) -> DataFrame:
    """Streaming exactly-once dedup: a doubled input (self-union of
    the source) deduplicated on event_id with
    `dropDuplicatesWithinWatermark`, so each event survives once.

    The watermark bounds dedup state: keys older than the watermark
    horizon are evicted, which is what makes streaming dedup viable
    on an unbounded 100 TB feed (plain dropDuplicates would pin
    every key ever seen)."""
    doubled = events_stream(spark, sf_dir).unionByName(
        events_stream(spark, sf_dir)
    )
    deduped = (
        doubled.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    query: StreamingQuery = (
        deduped.writeStream.format("memory")
        .queryName(table_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(table_name)


def session_window_stream(
    spark: SparkSession,
    sf_dir: str,
    table_name: str = "stream_session_windows",
    gap: str = "30 minutes",
) -> DataFrame:
    """Streaming session windows with the NATIVE `session_window`
    aggregate — the engine-managed merging-window state (vs q96's
    hand-rolled applyInPandasWithState sessionizer): per (user,
    session) event counts + decimal-exact value sums, sessions
    finalized and emitted once the watermark passes their close.

    availableNow over the static parquet drains the backlog, but with
    outputMode append the final watermark never passes sessions that
    close within watermark (1 hour) + gap of the stream's max
    timestamp — those stay in state and are never emitted. The actual
    contract (what test_q223 pins): the streamed sessions are a
    bit-identical SUBSET of the batch `session_window` aggregation
    (q220), complete up to the watermark frontier. State story at
    100 TB: session state is bounded by the
    watermark horizon (open sessions per active user), merged
    in-place by the operator; output mode append emits each session
    exactly once."""
    stream = events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.unix_micros("sw.start").alias("session_start_us"),
            F.unix_micros("sw.end").alias("session_end_us"),
            "n_events",
            "total_value",
        )
    )
    query: StreamingQuery = (
        agg.writeStream.format("memory")
        .queryName(table_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(table_name)
