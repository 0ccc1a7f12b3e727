"""State-store introspection: read a streaming aggregation's
checkpoint back as a DataFrame and reconcile it against the sink.

The reference has no streaming (SURVEY.md §2.12 — extension lane);
this module completes the auditable-state story the registry's
streaming lanes argue: an append-mode windowed aggregation emits a
window only once its end passes the watermark, so at any instant the
TRUTH is split between the sink (finalized windows) and the state
store (still-open windows). Spark 4 exposes the latter as a batch
source — ``spark.read.format("statestore").load(checkpoint)`` — whose
rows are the live (key, aggregation-buffer) pairs. Stitching the two
halves back together and checking they equal the batch aggregate is
exactly the audit a 100 TB pipeline runs before trusting a streaming
rollup enough to decommission its batch twin.

Scale stance: the state source reads the checkpoint's per-partition
store files in parallel (one task per state partition — the same
parallelism the stream ran with); nothing is collected. State volume
is bounded by the watermark horizon (windows per horizon x keys), so
the audit's cost is sink + horizon, independent of history length.

Eviction semantics (calibrated empirically, the q223 discipline —
see tests/test_statestore_audit.py): the watermark is tracked in
MILLISECONDS (max event time floored to ms, minus the delay) and an
append-mode window is emitted/evicted when ``window.end <=
watermark``; everything later stays in state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from patientdataintegration_spark.streaming.events import (
    events_stream,
    tumbling_counts,
)
from patientdataintegration_spark.streaming.sessions import sessionize_stream


def run_tumbling_with_state(
    spark: SparkSession,
    sf_dir: str,
    table_name: str = "ss_audit_emitted",
    window_duration: str = "5 minutes",
    watermark: str = "60 minutes",
) -> tuple[DataFrame, str]:
    """Drain the tumbling-count aggregation in APPEND mode (so the
    watermark actually evicts) against a fresh checkpoint; return
    (emitted sink table, checkpoint path).

    The checkpoint is a process-scoped scratch dir (wiped on reuse,
    removed at interpreter exit — r9 ADVICE): it must outlive this
    call because the returned state DataFrame reads it lazily, and
    the per-table fixed path keeps repeated oracle/bench invocations
    from accumulating checkpoints.
    """
    from patientdataintegration_spark.scratch import scratch_dir

    ckpt = scratch_dir("statestore_ckpt", table_name, sf_dir)
    stream = events_stream(spark, sf_dir)
    agg = tumbling_counts(
        stream, window_duration=window_duration, watermark=watermark, streaming=True
    )
    query = (
        agg.writeStream.format("memory")
        .queryName(table_name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(table_name), ckpt


def read_window_state(spark: SparkSession, checkpoint: str) -> DataFrame:
    """The live aggregation state of a tumbling-count checkpoint,
    projected to the SINK's schema (bucket, event_type, n,
    sum_value) so state rows and emitted rows union directly.

    The buffer's running sum is the exact DECIMAL accumulator the
    final cast would have been applied to, so projecting it through
    the same ``cast(double)`` yields bit-identical values to what the
    window WILL emit once evicted — the reconciliation is exact, not
    approximate. Buffers flagged ``isEmpty`` (pre-aggregation
    placeholders) are excluded; a non-empty window always carries a
    materialized buffer.
    """
    state = spark.read.format("statestore").load(checkpoint)
    return state.filter(~F.col("value.isEmpty")).select(
        F.unix_timestamp("key.window.start").alias("bucket"),
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").alias("n"),
        F.col("value.sum").cast("double").alias("sum_value"),
    )


def read_session_state(spark: SparkSession, checkpoint: str) -> DataFrame:
    """The live keyed state of the CUSTOM stateful sessionizer
    (`streaming/sessions.py` — applyInPandasWithState), projected to
    the sink's session schema (user_id, session_start_us,
    session_end_us, n_events) so state rows union directly with
    emitted rows.

    The statestore source exposes applyInPandasWithState state as
    ``value.groupState.<stateStructType fields>`` plus the pending
    ``value.timeoutTimestamp``; each live row is exactly one user's
    trailing OPEN session (the sessionizer keeps O(1) state per key),
    so the projection needs no aggregation — the open session's
    running (start, last-seen, count) IS what the timeout flush would
    emit, making the reconciliation exact."""
    state = spark.read.format("statestore").load(checkpoint)
    return state.select(
        F.col("key.user_id").alias("user_id"),
        F.col("value.groupState.start_us").alias("session_start_us"),
        F.col("value.groupState.end_us").alias("session_end_us"),
        F.col("value.groupState.n").alias("n_events"),
    )


def sessionize_statestore_audit(
    spark: SparkSession,
    sf_dir: str,
    gap_seconds: int = 43200,
    watermark: str = "0 seconds",
    table_name: str = "sess_audit_emitted",
) -> DataFrame:
    """Emitted sessions ∪ live open sessions with an ``origin``
    provenance column — the q236 audit extended to the CUSTOM
    stateful operator (the r8 verdict's item 6): the union
    reconstructs the batch sessionization exactly, splitting each
    user's trailing session by whether its event-time timeout fired
    before the final watermark. Deterministic end to end (the q96
    frontier calibration), so the whole relation carries a FULL hash
    oracle."""
    from patientdataintegration_spark.scratch import scratch_dir

    ckpt = scratch_dir("sess_state_ckpt", table_name, sf_dir)
    emitted = sessionize_stream(
        spark,
        sf_dir,
        gap_seconds=gap_seconds,
        watermark=watermark,
        table_name=table_name,
        checkpoint=ckpt,
    )
    state = read_session_state(spark, ckpt)
    return emitted.withColumn("origin", F.lit("emitted")).unionByName(
        state.withColumn("origin", F.lit("state"))
    )


def statestore_audit(
    spark: SparkSession,
    sf_dir: str,
    table_name: str = "ss_audit_emitted",
) -> DataFrame:
    """Emitted ∪ state with an ``origin`` provenance column — the
    full reconstruction of the batch aggregate from a half-drained
    streaming checkpoint. Deterministic end to end: the final
    watermark is a pure function of the data (max event time − 60
    min), so which side of the frontier each window lands on is
    replayable in SQL (the q223 pattern) and the whole relation
    carries a FULL hash oracle.
    """
    emitted, ckpt = run_tumbling_with_state(spark, sf_dir, table_name=table_name)
    state = read_window_state(spark, ckpt)
    return emitted.withColumn("origin", F.lit("emitted")).unionByName(
        state.withColumn("origin", F.lit("state"))
    )


def state_sizing(
    spark: SparkSession,
    checkpoint: str,
    target_keys: int | None = None,
    target_partitions: int | None = None,
    operator_id: int = 0,
) -> dict:
    """Checkable state-store SIZING for a streaming checkpoint — the
    README's "Deploying at 100 TB" streaming guidance (state ≈ open
    keys × O(1)/O(k)) turned into numbers a capacity plan can assert
    against (the r11 verdict's stretch 7).

    Reads two sources, both metadata-sized:

    - the ``state-metadata`` batch source for the operator's name and
      partition count (what the stream actually ran with);
    - the ``statestore`` source for LIVE keys per partition, joined
      against the checkpoint's per-partition on-disk bytes (the
      state/<op>/<pid> directory sizes — delta + snapshot files, the
      real recovery payload).

    The cost model split: a state partition costs a FIXED overhead
    (commit/version files — estimated as the median bytes of
    key-less partitions, or the minimum partition when none is
    empty) plus a MARGINAL per-key cost (median over non-empty
    partitions of (bytes − overhead) / keys). The projection at a
    target cardinality is then

        projected = partitions × overhead + target_keys × marginal

    which is exactly the number to hold against executor memory /
    RocksDB disk when sizing a real cluster (pass the production
    ``target_partitions`` — overhead scales with the partition
    count, keys don't care). Returns a plain dict: this is a
    driver-side capacity audit over per-partition aggregates
    (≤ numPartitions rows), not a data-plane operator."""
    import os

    md = [
        r
        for r in spark.read.format("state-metadata")
        .load(checkpoint)
        .collect()
        if r["operatorId"] == operator_id
    ]
    if not md:
        raise ValueError(
            f"no state operator {operator_id} in checkpoint {checkpoint}"
        )
    n_partitions = md[0]["numPartitions"]
    # the statestore source defaults to operator 0 — pin it to the
    # audited operator so multi-operator checkpoints don't mix
    # operator N's bytes with operator 0's key counts (r12 ADVICE)
    keys_by_pid = {
        r["partition_id"]: r["n"]
        for r in spark.read.format("statestore")
        .option("operatorId", operator_id)
        .load(checkpoint)
        .groupBy("partition_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    state_root = os.path.join(checkpoint, "state", str(operator_id))
    bytes_by_pid: dict[int, int] = {}
    for entry in os.listdir(state_root):
        if not entry.isdigit():
            continue
        total = 0
        for root, _dirs, files in os.walk(os.path.join(state_root, entry)):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
        bytes_by_pid[int(entry)] = total
    empty = sorted(
        b for pid, b in bytes_by_pid.items() if keys_by_pid.get(pid, 0) == 0
    )
    if empty:
        overhead = empty[len(empty) // 2]
    else:
        overhead = min(bytes_by_pid.values(), default=0)
    marginals = sorted(
        max(0.0, (b - overhead) / keys_by_pid[pid])
        for pid, b in bytes_by_pid.items()
        if keys_by_pid.get(pid, 0) > 0
    )
    marginal = marginals[len(marginals) // 2] if marginals else 0.0
    n_keys = sum(keys_by_pid.values())
    out_partitions = target_partitions or n_partitions
    report = {
        "operator_name": md[0]["operatorName"],
        "n_partitions": n_partitions,
        "n_keys": n_keys,
        "state_bytes": sum(bytes_by_pid.values()),
        "overhead_bytes_per_partition": overhead,
        "bytes_per_key": marginal,
    }
    if target_keys is not None:
        report["target_keys"] = target_keys
        report["target_partitions"] = out_partitions
        report["projected_bytes"] = int(
            out_partitions * overhead + target_keys * marginal
        )
    return report
