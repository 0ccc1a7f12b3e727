"""Round-16 additions: the training-ops tier.

q301 closes the one SURVEY §2.11 component still marked partial —
M4, the reference's 3-phase training loop (`functions_v2.py:
222-403`). The torch internals (CNN forward, autograd, CUDA) remain
out of engine scope by declaration; what the engine now owns is the
LOOP as data-plane machinery: per-epoch full-corpus gradient
aggregation, the stepped learning-rate phase schedule, the loss
curve, and the early-stopping signal — re-expressed on a model whose
every arithmetic step is engine-portable (`operators/training.py`:
Elliott fast-sigmoid linear model, round-then-DECIMAL gradient
sums), so the ENTIRE training run is replayed bit-for-bit by the
DuckDB oracle and the driver hash gates the whole curve.

Scale stance (100 TB): one epoch is one map-side aggregation over
the standardized projection with a 1-row exchange — gradient
descent's shuffle volume is O(model), not O(rows); the driver holds
only the weight vector (the parameter-server-on-the-driver shape for
small models); the projection is pinned so epochs re-read columnar
batches, not raw parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from patientdataintegration_spark.suite.registry import register


def _q301_sql() -> str:
    from patientdataintegration_spark.operators.training import (
        training_curve_oracle_sql,
    )

    return training_curve_oracle_sql()


@register("q301_training_curve", _q301_sql())
def q301_training_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 3-phase training loop as a hash-oracled lane (M4 analogue
    — reference `functions_v2.py:222-403`): six epochs of exact batch
    gradient descent (Elliott fast-sigmoid linear model over the
    standardized customer features, the forest lane's feature/label
    design) under the stepped LR schedule 0.5/0.25/0.125 × 2 epochs,
    with a deterministic 75/25 train/validation split and the stop
    signal on the VALIDATION loss — the variant the reference
    considered (its val-loss check is commented out; the active
    criterion there is val balanced accuracy after epoch 5 —
    `operators/training.py` docstring).
    Output = the training CURVE: per-epoch (phase, lr, 6-dp train +
    val losses, post-epoch weights, improved flag; on this corpus it
    shows textbook overfitting and the signal fires). The oracle unrolls
    the weight recurrence into chained CTEs built from the SAME
    per-epoch aggregate expression text, so the driver hash proves
    the distributed loop and the single-node replay agree on every
    weight and every loss digit.

    Scale: each epoch is one partial-aggregated scan (shuffle =
    O(model)); driver state = 4 doubles; the pinned projection keeps
    epochs off raw parquet. A real 100 TB deployment swaps the model
    for MLlib/torch but keeps exactly this loop shape — phases,
    curve, stop signal — which is the part the engine owns."""
    from patientdataintegration_spark.operators.training import (
        training_curve,
    )

    return training_curve(spark, sf_dir)
