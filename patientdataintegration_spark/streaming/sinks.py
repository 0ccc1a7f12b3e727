"""Streaming sinks: checkpointed foreachBatch → parquet.

The memory sink (tests) and console sink are toys; the production
lane for "stream lands in a queryable table" is foreachBatch with a
checkpoint: the checkpoint records the last committed micro-batch
id, so a restart resumes AFTER it — each input file is processed
exactly once even across crashes. Inside the batch function we are
in ordinary batch-DataFrame land, so the partitioned writer
(`sources/parquet_io.write_partitioned`) is reused as-is — one code
path for batch and streaming ingest.

Idempotence contract: foreachBatch can re-run a batch that committed
to the sink but not yet to the checkpoint (crash between the two).
Writing each batch to a `batch_id=N` subdirectory with overwrite
makes the replay harmless — the same data lands in the same place.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from patientdataintegration_spark.streaming.events import events_stream


def stream_to_parquet(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """Ingest the events feed into a parquet table via checkpointed
    foreachBatch (availableNow: drain the backlog, then stop).
    Restarting with the same checkpoint processes nothing new —
    exactly-once per input file."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .parquet(f"{out_path}/batch_id={batch_id}")
        )

    return (
        events_stream(spark, sf_dir)
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def _latest_cdc_version(spark: SparkSession, table_path: str, below: int):
    """Newest committed snapshot version STRICTLY below `below`, or
    None. Driver-side directory listing (metadata only, never data):
    the version directories are the table's commit log."""
    import os
    import re

    if not os.path.isdir(table_path):
        return None, None
    versions = sorted(
        int(m.group(1))
        for d in os.listdir(table_path)
        if (m := re.fullmatch(r"v=(\d+)", d))
    )
    versions = [v for v in versions if v < below]
    if not versions:
        return None, None
    v = versions[-1]
    return v, spark.read.parquet(f"{table_path}/v={v}")


def current_cdc_state(spark: SparkSession, table_path: str) -> DataFrame:
    """The table a reader queries: the newest committed snapshot."""
    import sys

    _, df = _latest_cdc_version(spark, table_path, sys.maxsize)
    if df is None:
        raise FileNotFoundError(f"no committed snapshot under {table_path}")
    return df


def _lineage_offset(table_path: str, checkpoint_path: str) -> int:
    """Version offset for this checkpoint lineage, pinned by a
    first-writer-wins marker file in the table directory.

    Why: versions are named `v=<offset + batch_id>`, and batch ids
    RESTART at 0 whenever a new checkpoint is used against an
    existing table (re-pointed pipeline, lost checkpoint). Without
    the offset, the new lineage's v=0 would land BELOW the old
    lineage's newest version and every new write would be
    permanently shadowed. The marker records `1 + max existing
    version` at the moment the lineage first touches the table;
    crash-replayed batches re-read the SAME marker (it is written
    atomically before any snapshot write), keeping replay
    deterministic."""
    import hashlib
    import json
    import re

    h = hashlib.md5(os.path.abspath(checkpoint_path).encode()).hexdigest()[:12]
    marker = os.path.join(table_path, f"_lineage_{h}.json")
    if os.path.isfile(marker):
        with open(marker) as f:
            return json.load(f)["offset"]
    os.makedirs(table_path, exist_ok=True)
    versions = [
        int(m.group(1))
        for d in os.listdir(table_path)
        if (m := re.fullmatch(r"v=(\d+)", d))
    ]
    offset = (max(versions) + 1) if versions else 0
    tmp = marker + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"offset": offset}, f)
    os.replace(tmp, marker)
    return offset


def stream_cdc_upsert(
    spark: SparkSession,
    sf_dir: str,
    table_path: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """Streaming CDC apply: the event feed is a change log (error →
    delete, every other type → upsert of `value`, which inserts when
    the key is absent), folded
    into a maintained table with last-writer-wins MERGE semantics —
    the streaming twin of the batch q174_cdc_apply operator.

    Design (poor-man's Delta, honest about it): each micro-batch
    merges the incoming changes into the newest snapshot version
    STRICTLY BELOW its version id and writes the result as
    `v=<lineage offset + batch_id>` (the offset — see
    `_lineage_offset` — pins each checkpoint lineage ABOVE any
    versions already in the table, so re-pointing a fresh checkpoint
    at an existing table RESUMES from its state instead of being
    shadowed by it) — snapshots are immutable, readers always see a
    complete committed version (`current_cdc_state`), and the
    exactly-once story needs no table-format transaction log:

    - crash BEFORE the snapshot write: the checkpoint has not
      committed either; the batch replays identically.
    - crash AFTER the write but BEFORE the checkpoint commit: the
      replayed batch re-reads the same marker and the version BELOW
      its own (never its half-committed output) and overwrites
      `v=<version>` with the identical merge — idempotent by
      construction.

    Ordering: last-writer-wins resolves on the FULL-precision event
    timestamp with event_id as the total-order tiebreak (same
    contract as the batch operator). A delete drops the key; a later
    change re-inserts it (no tombstone retention — at real scale,
    retain tombstones for the out-of-order window the source can
    produce, i.e. its watermark).

    Scale: one shuffle on key per micro-batch; the rewrite cost is
    O(|table|) per batch, which is the known trade of the
    versioned-snapshot design — partition `v=<id>` by key-bucket and
    rewrite only buckets containing changes to make it O(|delta|).
    Cites the reference's append-style results store
    (ExperimentSetup_v2.py results CSV append) as the semantic
    ancestor: this is that lane upgraded to keyed mutation.
    """
    from pyspark.sql import Window

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        changes = batch_df.select(
            F.col("user_id").alias("key"),
            F.col("value").alias("bal"),
            F.col("ts").cast("double").alias("seq_ts"),
            F.col("event_id").alias("seq_id"),
            F.when(F.col("event_type") == "error", F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
        )
        version = _lineage_offset(table_path, checkpoint_path) + batch_id
        _, cur = _latest_cdc_version(changes.sparkSession, table_path, version)
        log = changes
        if cur is not None:
            base = cur.select("key", "bal", "seq_ts", "seq_id", F.lit("U").alias("op"))
            log = base.unionByName(changes)
        w = Window.partitionBy("key").orderBy(
            F.col("seq_ts").desc(), F.col("seq_id").desc()
        )
        merged = (
            log.withColumn("rn", F.row_number().over(w))
            .filter((F.col("rn") == 1) & (F.col("op") != "D"))
            .select("key", "bal", "seq_ts", "seq_id")
        )
        merged.write.mode("overwrite").parquet(f"{table_path}/v={version}")

    return (
        events_stream(spark, sf_dir)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def stream_with_observed_metrics(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_path: str,
    table_name: str = "stream_observed",
):
    """Streaming twin of `plans/observability.run_observed`: the SAME
    `observe` gauges (row count + decimal-exact value sum) attached
    to the event stream, surfaced per micro-batch through
    `StreamingQueryProgress.observedMetrics` — ingest-job row
    accounting with no second pass over the stream. Returns
    (result_df, observed) where `observed` is the list of per-batch
    metric rows in batch order."""
    stream = events_stream(spark, sf_dir).observe(
        "gauges",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )
    agg = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    query = (
        agg.writeStream.format("memory")
        .queryName(table_name)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    observed = [
        p["observedMetrics"]["gauges"]
        for p in query.recentProgress
        if p.get("observedMetrics", {}).get("gauges") is not None
    ]
    return spark.table(table_name), observed
