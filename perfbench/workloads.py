"""Workload definitions: which suite lanes make up one pass, and the
seeded lane order inside each pass.

One op is one pass: every lane of the workload run once through
`QUERIES[lane](spark, data_dir)` into the `noop` sink.
"""

from __future__ import annotations

import random

# sf0.01-sized star tables and events; documents/embeddings keep the
# 500-row floor of the generator
SCALE = 0.01
SMOKE_SCALE = 0.001
# every run reads the same tables; the run's --seed sets only the lane
# order (`pass_order`)
DATA_SEED = 1

WORKLOADS: dict[str, dict] = {
    # the paper's experiment: cohort union -> imputation -> folds ->
    # sampling -> grouped scoring -> balanced accuracy / AUROC, plus
    # fusion, the random forest and the training curve
    "pdi_lifecycle": {
        "lanes": [
            "q45_full_pipeline",
            "q02_group_scores",
            "q04_auroc",
            "q13_sample_per_group",
            "q16_naive_fusion",
            "q94_random_forest",
            "q301_training_curve",
        ],
        "serve": [],
    },
    # the streaming store: CRUD micro-batch writes alternated with
    # pruned serves of prebuilt stores/exports
    "store_rw": {
        "lanes": [
            "q283_streaming_index",
            "q284_streaming_ivf",
            "q273_streaming_components",
        ],
        "serve": [
            "q290_bm25_pruned_serving",
            "q293_conjunctive_pruned_serving",
            "q294_ivf_pruned_serving",
        ],
    },
}


def lanes(workload: str) -> list[str]:
    w = WORKLOADS[workload]
    return w["lanes"] + w["serve"]


def write_lanes(workload: str) -> list[str]:
    w = WORKLOADS[workload]
    return w["lanes"] if w["serve"] else []


def pass_order(workload: str, seed: int, pass_no: int) -> list[str]:
    """The lane order of one pass. Write lanes alternate with serve
    lanes where the workload has both; the seed shuffles each list."""
    rng = random.Random(seed * 100_003 + pass_no)
    w = WORKLOADS[workload]
    main, serve = list(w["lanes"]), list(w["serve"])
    rng.shuffle(main)
    rng.shuffle(serve)
    if not serve:
        return main
    out: list[str] = []
    for i in range(max(len(main), len(serve))):
        out += main[i:i + 1] + serve[i:i + 1]
    return out


def prebuild(spark, data_dir: str, workload: str) -> None:
    """Build the stores and exports the serve lanes read: the q290/q293
    bucketed BM25 export (with the CRUD store under it) and the q294
    IVF export. A narrower set than `ext11.prebuild_serving_stores`."""
    if not WORKLOADS[workload]["serve"]:
        return
    from patientdataintegration_spark.suite.ext10 import _shared_serving_export
    from patientdataintegration_spark.suite.ext11 import _ivf_serving_export

    _shared_serving_export(spark, data_dir)
    _ivf_serving_export(spark, data_dir)
