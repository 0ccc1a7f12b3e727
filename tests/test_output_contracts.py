"""Contracts that keep the suite compatible with the external
correctness harness across testdata-format generations.

Two past breakages motivate these tests:
- the events parquet changed encoding between rounds (INT64
  TIMESTAMP(NANOS) → INT64 micros with isAdjustedToUTC=0, i.e.
  TIMESTAMP_NTZ to Spark), silently invalidating every timestamp
  assumption downstream (6 oracle ERRs, 9 red tests, a crashed
  bench run);
- q110 emitted an `array<bigint>` column, which a pandas-based
  value canonicalizer cannot hash (`unhashable type: 'list'`).
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql.types import ArrayType, MapType, TimestampType


BASE = dt.datetime(2024, 1, 1, 12, 0, 0)
ROWS = [
    (1, BASE, 10.0),
    (2, BASE + dt.timedelta(seconds=90), 20.0),
    (3, BASE + dt.timedelta(hours=3), 30.0),
]


def _write_events(tmpdir, unit: str) -> str:
    """Write a minimal events.parquet with `ts` in the given parquet
    encoding: 'ns' → INT64 TIMESTAMP(NANOS); 'us' → INT64 micros with
    isAdjustedToUTC=0 (read by Spark as TIMESTAMP_NTZ). Both are
    timezone-naive, matching the driver's generator."""
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in ROWS], pa.int64()),
            "ts": pa.array([r[1] for r in ROWS], pa.timestamp(unit)),
            "event_type": pa.array(["click"] * len(ROWS), pa.string()),
            "value": pa.array([r[2] for r in ROWS], pa.float64()),
        }
    )
    out = str(tmpdir / unit)
    tmpdir.joinpath(unit).mkdir()
    # version 2.6 keeps nanos as TIMESTAMP(NANOS) instead of
    # coercing; exactly the encoding the round-1 testdata carried
    pq.write_table(table, f"{out}/events.parquet", version="2.6")
    return out


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_load_table_normalizes_every_ts_encoding(spark, tmp_path, unit):
    """`catalog.load_table` must return TimestampType for `ts` no
    matter which encoding generation the parquet came from, and the
    wall-clock values must be preserved."""
    from patientdataintegration_spark.sources.catalog import load_table

    sf_dir = _write_events(tmp_path, unit)
    df = load_table(spark, sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, TimestampType), (
        f"{unit}: expected TimestampType, got {df.schema['ts'].dataType}"
    )
    got = {r.event_id: r.ts for r in df.collect()}
    assert got == {r[0]: r[1] for r in ROWS}


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_streaming_reader_accepts_every_ts_encoding(spark, tmp_path, unit):
    """The streaming readers apply the same normalization, so
    `withWatermark('ts', ...)` never sees NTZ (which it rejects)."""
    from patientdataintegration_spark.streaming.events import run_tumbling_counts_stream

    sf_dir = _write_events(tmp_path, unit)
    out = run_tumbling_counts_stream(
        spark, sf_dir, table_name=f"contract_stream_{unit}"
    )
    # 3 events, two within one 5-minute bucket → but no key column in
    # the fixture; just assert the stream ran and produced buckets
    assert out.count() >= 1


def test_oracle_backed_outputs_are_scalar_columns(spark):
    """Every query with a SQL oracle is value-hashed by the harness
    via a pandas canonicalizer, which cannot hash array/map cells.
    Assert no oracle-backed query emits one.

    Schema-only check: builds each lazy plan, no execution."""
    from patientdataintegration_spark.suite import ORACLES, QUERIES

    sf_dir = "/root/testdata/sf0.001"
    offenders = []
    for name in sorted(ORACLES):
        df = QUERIES[name](spark, sf_dir)
        for field in df.schema.fields:
            if isinstance(field.dataType, (ArrayType, MapType)):
                offenders.append(f"{name}.{field.name}: {field.dataType.simpleString()}")
    assert not offenders, f"unhashable output columns: {offenders}"


def test_complex_operators_survive_empty_input(spark):
    """Every structurally complex operator returns an empty (or
    degenerate-but-well-formed) result on 0-row input rather than
    raising — the property that matters when a filter upstream of
    the operator matches nothing on some partition of a 100 TB run."""
    from pyspark.sql import functions as F

    from patientdataintegration_spark.operators.clustering import kmeans_assign
    from patientdataintegration_spark.operators.dedup import fuzzy_name_pairs
    from patientdataintegration_spark.operators.graph import pagerank
    from patientdataintegration_spark.operators.sessionize import sessionize
    from patientdataintegration_spark.operators.temporal import (
        asof_join,
        resample_linear,
        scd2_intervals,
    )
    from patientdataintegration_spark.operators.textops import (
        paragraph_dedup_stats,
        sparse_cosine_pairs,
    )

    empty_events = spark.createDataFrame(
        [], "user_id bigint, event_id bigint, ts timestamp, value double"
    )
    empty_docs = spark.createDataFrame([], "doc_id bigint, text string")
    empty_vecs = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    empty_pairs = spark.createDataFrame([], "doc_a bigint, doc_b bigint")
    empty_names = spark.createDataFrame([], "p_name string")

    assert sessionize(empty_events).count() == 0
    assert scd2_intervals(empty_events).count() == 0
    assert resample_linear(empty_events).count() == 0
    assert (
        asof_join(
            empty_events, empty_events, on=["user_id"], payload=["value"]
        ).count()
        == 0
    )
    assert sparse_cosine_pairs(empty_docs).count() == 0
    assert paragraph_dedup_stats(empty_docs).count() == 0
    assert pagerank(empty_pairs).count() == 0
    assert fuzzy_name_pairs(empty_names, name_col="p_name").count() == 0
    assert kmeans_assign(empty_vecs, k=2, iterations=1).count() == 0


def test_every_query_is_oracle_backed_or_documented_rows_only():
    """The harness value-hashes each `queries()` lane against the
    same-named `oracle_sql()` entry. No lane is documented as
    rows-only any more, so the entry adapter must hand out a
    non-blank oracle for every lane and none for an unknown name."""
    import __spark_entry__

    lanes = set(__spark_entry__.queries())
    oracles = __spark_entry__.oracle_sql()
    missing = lanes - set(oracles)
    stale = set(oracles) - lanes
    blank = sorted(n for n, sql in oracles.items() if not sql.strip())
    assert not missing, f"lanes without an oracle: {sorted(missing)}"
    assert not stale, f"oracles for unregistered lanes: {sorted(stale)}"
    assert not blank, f"blank oracle SQL: {blank}"
