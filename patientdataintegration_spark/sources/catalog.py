"""Table catalog over the driver's parquet star schema (TESTDATA.md).

The reference's sources are per-cohort CSVs and a recursive file
walk (SURVEY.md §2.1 S1/S2, `ExperimentSetup_v2.py:57-60`,
`dataset_classes_v1.py:32-54`); our engine's canonical source is
columnar parquet so scans get predicate pushdown, column pruning and
row-group skipping for free. CSV and binary-file sources live in
their own modules (`csv_io`, `binaryfile`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import TimestampNTZType

from patientdataintegration_spark.plans.materialize import read_parquet

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions small enough that any join against them should be a
# broadcast hash join at EVERY scale factor. Only region/nation truly
# qualify (fixed cardinality, like TPC-H's); supplier grows slowly
# enough (10k rows/SF, a few MB at SF100) to stay broadcastable.
# customer/part deliberately NOT listed: they scale linearly with SF
# (15M customers at SF100) — joins against them should let AQE pick
# broadcast from runtime stats at small SF and shuffle at large SF.
SMALL_DIMS = frozenset({"region", "nation", "supplier"})


def enable_nanos_read(spark: SparkSession) -> None:
    """Prepare this session for any events-parquet timestamp format.

    Runtime-settable on any session (including a vanilla one the
    driver builds): without `nanosAsLong` Spark rejects INT64
    TIMESTAMP(NANOS) parquet with PARQUET_TYPE_ILLEGAL; with it,
    nanos surface as bigint and are normalized by the readers. The
    UTC session timezone makes the NTZ→TIMESTAMP cast (and every
    date_trunc/unix_timestamp downstream) wall-clock-preserving, so
    results match the timezone-naive DuckDB oracle on any host."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def normalize_timestamps(df: DataFrame) -> DataFrame:
    """Normalize every supported on-disk timestamp encoding to
    `TimestampType` so downstream operators (window functions,
    `unix_micros`, `withWatermark`) see exactly one type.

    Two encodings exist across driver testdata generations:
    - INT64 TIMESTAMP(NANOS): read as bigint under `nanosAsLong`;
      floored to microseconds (integer DIV — epoch-nanos ≈ 1.7e18
      exceeds double's 2^53 exact range, so float division drifts).
    - INT64 micros with isAdjustedToUTC=0: read as TIMESTAMP_NTZ;
      cast to TIMESTAMP under the pinned UTC session timezone —
      wall-clock-preserving, matching DuckDB's naive reading.
    """
    for field in df.schema.fields:
        if field.name == "ts" and field.dataType.simpleString() == "bigint":
            df = df.withColumn(
                field.name,
                F.timestamp_micros(F.expr(f"{field.name} DIV 1000")),
            )
        elif isinstance(field.dataType, TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one catalog table; after the first read of
    a table the scan plans without a schema-inference job
    (`materialize.read_parquet`).

    Timestamp columns are normalized to `TimestampType` regardless of
    the on-disk encoding (nanos-as-bigint or TIMESTAMP_NTZ) — see
    `normalize_timestamps` — so every downstream operator sees one
    timestamp type and pushdown-friendly literals.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; catalog has {TABLES}")
    enable_nanos_read(spark)
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    return normalize_timestamps(df)


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view so `spark.sql` queries run
    against the same scans (one logical catalog for DataFrame + SQL)."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
