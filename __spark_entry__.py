"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in ``patientdataintegration_spark``; this file
only adapts the suite registry to the driver's interface.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the reference's full
    experiment lifecycle (SURVEY.md §3.1) as ONE lazy DAG — cohort
    union → imputation → encoding → stratified folds → seeded
    sampling → fact join → grouped scoring → per-set balanced
    accuracy + AUROC."""
    from patientdataintegration_spark.suite.core import q45_full_pipeline

    return q45_full_pipeline(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered lane, the committed rotation sample
    (`tools/rotation_manifest.json` `recommended_sample`) first: the
    correctness harness certifies only a bounded prefix, so the
    rotation rule — touched lanes first, then the stalest — decides
    that prefix. A sample name that is not registered raises
    KeyError."""
    from patientdataintegration_spark.suite import QUERIES

    manifest = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "tools",
        "rotation_manifest.json",
    )
    with open(manifest) as f:
        sample = json.load(f)["recommended_sample"]
    ordered = {name: QUERIES[name] for name in sample}
    ordered.update(QUERIES)  # keeps the sample's positions, appends the rest
    return ordered


def oracle_sql() -> dict[str, str]:
    """The DuckDB-runnable ANSI-SQL twin of every lane in
    `queries()`."""
    from patientdataintegration_spark.suite import ORACLES

    return dict(ORACLES)
