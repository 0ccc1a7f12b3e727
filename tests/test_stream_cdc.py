"""Streaming CDC-upsert sink (streaming twin of q174_cdc_apply):
last-writer-wins merge per micro-batch into versioned snapshots,
exactly-once across restarts."""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import functions as F

from patientdataintegration_spark.streaming.sinks import (
    current_cdc_state,
    stream_cdc_upsert,
)


def _write_events_file(spark, rows, src_dir):
    """Write rows as the SINGLE FILE `events.parquet` (the driver
    corpus layout `events_stream`'s pathGlobFilter expects), not a
    parquet directory."""
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, sec double, event_type string, value double",
    ).select(
        "event_id",
        F.timestamp_seconds("sec").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    staging = str(src_dir / "_staging")
    df.coalesce(1).write.parquet(staging)
    part = glob.glob(f"{staging}/part-*.parquet")[0]
    shutil.move(part, str(src_dir / "events.parquet"))
    shutil.rmtree(staging)


ROWS = [
    (1, 1, 10.0, "signup", 10.0),
    (2, 1, 20.0, "purchase", 20.0),   # user 1 -> last write 20.0
    (3, 2, 10.0, "signup", 5.0),
    (4, 2, 30.0, "error", 0.0),       # user 2 -> deleted
    (5, 3, 10.0, "error", 0.0),
    (6, 3, 40.0, "click", 5.0),       # user 3 -> re-inserted, 5.0
    (7, 4, 15.0, "purchase", 7.0),    # user 4 -> upsert-inserts, 7.0
    (8, 5, 50.0, "view", 1.0),
    (9, 5, 50.0, "view", 2.0),        # same ts: event_id 9 wins -> 2.0
]
EXPECT = {1: 20.0, 3: 5.0, 4: 7.0, 5: 2.0}


def test_stream_cdc_upsert_merges_and_deletes(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    _write_events_file(spark, ROWS, src)
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    q = stream_cdc_upsert(spark, str(src), table, ckpt)
    q.awaitTermination()
    got = {r.key: r.bal for r in current_cdc_state(spark, table).collect()}
    assert got == EXPECT


def test_stream_cdc_upsert_restart_is_exactly_once(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    _write_events_file(spark, ROWS, src)
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    stream_cdc_upsert(spark, str(src), table, ckpt).awaitTermination()
    versions_before = sorted(os.listdir(table))

    # restart against the SAME checkpoint: the backlog is already
    # committed, so no new snapshot version may appear and the state
    # is unchanged
    stream_cdc_upsert(spark, str(src), table, ckpt).awaitTermination()
    assert sorted(d for d in os.listdir(table) if d.startswith("v=")) == [
        d for d in versions_before if d.startswith("v=")
    ]
    got = {r.key: r.bal for r in current_cdc_state(spark, table).collect()}
    assert got == EXPECT


def test_stream_cdc_fresh_checkpoint_resumes_not_shadowed(spark, tmp_path):
    """Re-pointing a FRESH checkpoint at an existing table must
    RESUME from its newest version, not be shadowed by it: the new
    lineage's batch 0 gets a version offset above every existing
    version (the `_lineage_*` marker), merges the prior state with
    the re-read changes (idempotent — same data), and
    current_cdc_state moves to the new version."""
    src = tmp_path / "src"
    src.mkdir()
    _write_events_file(spark, ROWS, src)
    table = str(tmp_path / "table")

    stream_cdc_upsert(
        spark, str(src), table, str(tmp_path / "ckpt1")
    ).awaitTermination()
    first = {r.key: r.bal for r in current_cdc_state(spark, table).collect()}
    v_first = sorted(d for d in os.listdir(table) if d.startswith("v="))

    # fresh checkpoint over the SAME table: a NEW version appears
    # ABOVE the old one (not v=0 shadowed below it), state unchanged
    stream_cdc_upsert(
        spark, str(src), table, str(tmp_path / "ckpt2")
    ).awaitTermination()
    v_second = sorted(d for d in os.listdir(table) if d.startswith("v="))
    assert v_first == ["v=0"] and v_second == ["v=0", "v=1"]
    again = {r.key: r.bal for r in current_cdc_state(spark, table).collect()}
    assert first == again == EXPECT


def test_stream_observed_metrics_match_batch(spark, tmp_path):
    """Per-batch observedMetrics summed across the run must equal the
    batch-side aggregates over the same file — ingest accounting
    without a second scan."""
    from pyspark.sql import functions as F

    from patientdataintegration_spark.streaming.sinks import (
        stream_with_observed_metrics,
    )

    src = tmp_path / "src"
    src.mkdir()
    _write_events_file(spark, ROWS, src)

    result, observed = stream_with_observed_metrics(
        spark, str(src), str(tmp_path / "ckpt"), table_name="t_obs_metrics"
    )
    assert observed  # at least one batch reported gauges

    batch = spark.read.parquet(str(src / "events.parquet")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("s"),
    ).collect()[0]
    assert sum(m["n_rows"] for m in observed) == batch.n
    assert sum(m["sum_value"] for m in observed) == batch.s
    assert sum(r.n for r in result.collect()) == batch.n
