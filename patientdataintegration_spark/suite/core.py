"""Core query suite: reference operators (SURVEY.md §2) on the
driver's TPC-H-ish tables.

The reference's analytics are re-shaped onto the synthetic star
schema per FIXTURES.md's mapping: `lineitem` plays the tile/score
fact (F2/F3), `orders` the slide dimension (F4), `customer` the
patient-metadata dimension (F1). The derived `tile_scores` relation
gives every metric query the same shape the reference computes on:
(group_id, score, label, cohort, fold).

Scale stance: orders⋈lineitem is fact-to-fact — it must be a shuffle
join on the join key (never broadcast; both sides grow with SF), and
AQE handles skew. Joins against nation/region/1-row aggregates are
explicitly broadcast. Aggregations rely on partial aggregation;
windows partition by high-cardinality keys so no single reducer
bottlenecks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from patientdataintegration_spark.functions.deterministic import pseudo_random, pseudo_random_sql
from patientdataintegration_spark.functions.metrics import auroc, balanced_accuracy
from patientdataintegration_spark.operators.encodings import (
    bucketize_age2,
    bucketize_age3,
    onehot_columns,
    scale01,
)
from patientdataintegration_spark.operators.fusion import naive_fusion, threshold_sweep
from patientdataintegration_spark.operators.imputation import impute_mean, impute_mode
from patientdataintegration_spark.operators.sampling import sample_per_group
from patientdataintegration_spark.operators.scoring import group_scores
from patientdataintegration_spark.operators.splits import assign_folds, balance_audit, fold_to_set
from patientdataintegration_spark.sources.catalog import load_table
from patientdataintegration_spark.suite.registry import register


def dsum(col: Column, alias: str) -> Column:
    """Order-independent exact sum of a money-like double: decimal
    accumulate, one cast back. Scale 6 (not 4): price*discount
    products have exactly 4 decimal digits, so their doubles sit
    within 1 ulp of a 4-decimal boundary where engines' cast
    rounding can disagree; at scale 6 every input is far from the
    rounding boundary and the cast is unambiguous."""
    return F.sum(col.cast("decimal(18,6)")).cast("double").alias(alias)


def davg(col: Column, alias: str) -> Column:
    """Exact mean built from the exact decimal sum."""
    return (F.sum(col.cast("decimal(18,6)")).cast("double") / F.count(F.lit(1))).alias(alias)


# ---------------------------------------------------------------------------
# Shared derived relation: tile_scores (FIXTURES.md F3 on lineitem/orders).
# score_i = FLOOR(l_discount*1000) in {0,10,...,100}: integer-valued, so
# grouped means are exact. label/cohort/fold derive from order columns.
# ---------------------------------------------------------------------------

TILE_SCORES_SQL = """
  SELECT l.l_orderkey AS group_id,
         CAST(FLOOR(l.l_discount * 1000) AS DOUBLE) AS score_i,
         CAST(o.o_orderkey % 2 AS INTEGER) AS label,
         o.o_orderpriority AS cohort,
         CAST(o.o_custkey % 5 AS INTEGER) AS fold,
         l.l_linenumber AS l_linenumber,
         l.l_quantity AS l_quantity
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
"""


def tile_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    # fact-to-fact equi-join: shuffle join on the key, NOT broadcast.
    return li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("l_orderkey").alias("group_id"),
        F.floor(F.col("l_discount") * 1000).cast("double").alias("score_i"),
        (F.col("o_orderkey") % 2).cast("int").alias("label"),
        F.col("o_orderpriority").alias("cohort"),
        (F.col("o_custkey") % 5).cast("int").alias("fold"),
        F.col("l_linenumber"),
        F.col("l_quantity"),
    )


GROUPED_SQL = f"""
  WITH t AS ({TILE_SCORES_SQL}),
  g AS (
    SELECT group_id, label, cohort, fold,
           AVG(score_i) AS group_score,
           COUNT(*) AS n_items
    FROM t GROUP BY group_id, label, cohort, fold
  ),
  gp AS (
    SELECT *, CASE WHEN group_score >= 50.0 THEN 1 ELSE 0 END AS pred FROM g
  )
"""


def grouped_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship building block: per-order mean score + label + pred
    (A5/J6/F3; `calculate_slide_acc`, functions_v2.py:515-537)."""
    return group_scores(
        tile_scores(spark, sf_dir),
        group_cols=["group_id"],
        score_col="score_i",
        label_col="label",
        threshold=50.0,
        carry_cols=["cohort", "fold"],
    ).select(
        "group_id",
        F.col("group_score"),
        "label",
        "cohort",
        "fold",
        "n_items",
        "pred",
    )


# --- S1/Ext scan + A5 grouped mean + F3 threshold (flagship) ----------------


@register(
    "q02_group_scores",
    GROUPED_SQL + "SELECT group_id, group_score, label, cohort, fold, n_items, pred FROM gp",
)
def q02_group_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group score aggregation (A5 — the reference's
    slide-level mean over tile scores, `functions.py` evaluate): mean
    tile score + argmax prediction per group via `operators/scoring.
    group_scores`. Scale: one shuffle on the high-cardinality group
    key with partial aggregation; no windows, no collect."""
    return grouped_scores(spark, sf_dir)


# --- TPC-H Q1 style pricing summary (A5/A12/A13, decimal-exact) -------------


@register(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary — the A5/A12/A13 grouped-
    aggregate battery (sums, discounted/charged money math, averages)
    over the lineitem fact. Scale: one scan, partial (map-side)
    aggregation into 6 groups — the canonical shuffle-light shape;
    money sums ride DECIMAL(18,6) for order-independent exactness."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity"), "sum_qty"),
            dsum(F.col("l_extendedprice"), "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg(F.col("l_quantity"), "avg_qty"),
            davg(F.col("l_extendedprice"), "avg_price"),
            davg(F.col("l_discount"), "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --- A9 balanced accuracy (macro recall) ------------------------------------


@register(
    "q03_balanced_accuracy",
    GROUPED_SQL
    + """,
    p AS (
      SELECT cohort, label,
             AVG(CASE WHEN pred = label THEN 1.0 ELSE 0.0 END) AS _recall
      FROM gp GROUP BY cohort, label
    )
    SELECT cohort, AVG(_recall) AS bal_acc FROM p GROUP BY cohort
    """,
)
def q03_balanced_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced accuracy per cohort (A9 — macro-averaged
    recall, the reference's primary metric): per-(cohort,label) recall
    then unweighted mean over labels (`functions/metrics.
    balanced_accuracy`). Scale: two cascaded tiny aggregations after
    the grouped-score shuffle; output is cohort-cardinality rows."""
    g = grouped_scores(spark, sf_dir)
    return balanced_accuracy(g, "label", "pred", ["cohort"])


# --- A10 AUROC via Mann-Whitney rank statistic ------------------------------


@register(
    "q04_auroc",
    GROUPED_SQL
    + """,
    r AS (
      SELECT cohort, label,
             rank() OVER (PARTITION BY cohort ORDER BY group_score)
               + (COUNT(*) OVER (PARTITION BY cohort, group_score) - 1) / 2.0 AS _arank
      FROM gp
    )
    SELECT cohort,
           (SUM(CASE WHEN label = 1 THEN _arank ELSE 0.0 END)
             - SUM(CAST(label AS BIGINT)) * (SUM(CAST(label AS BIGINT)) + 1) / 2.0)
           / (SUM(CAST(label AS BIGINT)) * SUM(1 - CAST(label AS BIGINT))) AS auroc
    FROM r GROUP BY cohort
    """,
)
def q04_auroc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUROC per cohort via the Mann-Whitney rank statistic
    (A10): average ties-adjusted rank of positives (`functions/
    metrics.auroc`). The rank window partitions BY COHORT — at 100 TB
    the per-cohort sort distributes across reducers; exactness rides
    integer/half-integer rank sums below 2^53."""
    g = grouped_scores(spark, sf_dir)
    return auroc(g, "label", "group_score", ["cohort"])


# --- A11 mean ± population std over folds -----------------------------------


@register(
    "q05_mean_std_over_folds",
    GROUPED_SQL
    + """,
    p AS (
      SELECT fold, label,
             AVG(CASE WHEN pred = label THEN 1.0 ELSE 0.0 END) AS _recall
      FROM gp GROUP BY fold, label
    ),
    ba AS (SELECT fold, AVG(_recall) AS bal_acc FROM p GROUP BY fold)
    SELECT ROUND(AVG(bal_acc), 9) AS mean_bal_acc,
           ROUND(STDDEV_POP(bal_acc), 6) AS std_bal_acc
    FROM ba
    """,
)
def q05_mean_std_over_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-validation summary (A11): balanced accuracy
    per fold, then mean ± stddev_pop over the fold axis — the
    reference's reported-metric spelling. Scale: fold cardinality is
    tiny; all heavy lifting is the per-fold partial aggregation;
    rounded at 9/6 digits per the libm exactness contract."""
    from patientdataintegration_spark.functions.metrics import mean_std_over

    g = grouped_scores(spark, sf_dir)
    ba = balanced_accuracy(g, "label", "pred", ["fold"])
    return mean_std_over(ba, "bal_acc")


# --- A1/A3 mean imputation ---------------------------------------------------


IMPUTE_BASE_SQL = """
  SELECT c_custkey,
         CASE WHEN c_custkey % 7 = 0 THEN NULL
              ELSE CAST(FLOOR(c_acctbal) AS DOUBLE) END AS bal,
         CASE WHEN c_custkey % 11 = 0 THEN NULL ELSE c_nationkey END AS nk
  FROM customer
"""


def _impute_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 7 == 0, F.lit(None)).otherwise(
            F.floor(F.col("c_acctbal")).cast("double")
        ).alias("bal"),
        F.when(F.col("c_custkey") % 11 == 0, F.lit(None)).otherwise(F.col("c_nationkey")).alias("nk"),
    )


@register(
    "q06_impute_mean",
    f"""
    WITH base AS ({IMPUTE_BASE_SQL}),
    m AS (SELECT AVG(bal) AS _fill FROM base)
    SELECT c_custkey,
           COALESCE(bal, _fill) AS bal,
           CASE WHEN bal IS NULL THEN 1 ELSE 0 END AS was_null
    FROM base CROSS JOIN m
    """,
)
def q06_impute_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean imputation (A1): NULL balances filled with the
    global mean (`operators/imputation.impute_mean`), was_null
    provenance kept. Scale: the mean is a one-row aggregate broadcast
    back over the scan (sanctioned crossJoin(broadcast) pattern) —
    no second shuffle of the fact."""
    base = _impute_base(spark, sf_dir).withColumn(
        "was_null", F.col("bal").isNull().cast("int")
    )
    return impute_mean(base, "bal").select("c_custkey", "bal", "was_null")


# --- A2/A3 mode imputation (tie -> lowest value) ----------------------------


@register(
    "q07_impute_mode",
    f"""
    WITH base AS ({IMPUTE_BASE_SQL}),
    cnt AS (SELECT nk, COUNT(*) AS c FROM base WHERE nk IS NOT NULL GROUP BY nk),
    m AS (SELECT nk AS _fill FROM cnt ORDER BY c DESC, nk ASC LIMIT 1)
    SELECT c_custkey, COALESCE(nk, _fill) AS nk FROM base CROSS JOIN m
    """,
)
def q07_impute_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode imputation (A2): NULL categories filled with the
    most frequent value, ties broken deterministically (count DESC,
    value ASC) — `operators/imputation.impute_mode`. Scale: the mode
    is computed by a value-cardinality-sized aggregate and broadcast
    back; the fact scans once."""
    base = _impute_base(spark, sf_dir)
    return impute_mode(base, "nk").select("c_custkey", "nk")


# --- E1 min-max scaling ------------------------------------------------------


@register(
    "q08_scale01",
    f"""
    WITH base AS ({IMPUTE_BASE_SQL}),
    b AS (SELECT c_custkey, COALESCE(bal, 0.0) AS bal FROM base),
    bounds AS (SELECT MIN(bal) AS mn, MAX(bal) AS mx FROM b)
    SELECT c_custkey,
           CASE WHEN mx = mn THEN 0.0 ELSE (bal - mn) / (mx - mn) END AS bal_scaled
    FROM b CROSS JOIN bounds
    """,
)
def q08_scale01(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-max scaling to [0,1] (W4/E1 — the reference's
    normalization step): global (min,max) as a one-row broadcast
    aggregate, then a map-side affine transform (`operators/
    encodings.scale01`), constant-column guard included. Scale: one
    scan + one metadata-sized broadcast; no shuffle of the fact."""
    base = _impute_base(spark, sf_dir).select(
        "c_custkey", F.coalesce("bal", F.lit(0.0)).alias("bal")
    )
    return scale01(base, ["bal"]).select("c_custkey", "bal_scaled")


# --- E2 one-hot --------------------------------------------------------------


@register(
    "q09_onehot",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(l_returnflag = 'A' AS INTEGER) AS rf_A,
           CAST(l_returnflag = 'N' AS INTEGER) AS rf_N,
           CAST(l_returnflag = 'R' AS INTEGER) AS rf_R
    FROM lineitem
    """,
)
def q09_onehot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-hot encoding of a categorical over an EXPLICIT
    vocabulary (E2 — the reference's pd.get_dummies analogue, made
    deterministic by pinning category order): pure map-side projection
    (`operators/encodings.onehot_columns`). Scale: no shuffle at all;
    vocabulary is declared, not inferred, so no dictionary pass."""
    li = load_table(spark, sf_dir, "lineitem")
    return onehot_columns(li, "l_returnflag", ["A", "N", "R"], prefix="rf").select(
        "l_orderkey", "l_linenumber", "rf_A", "rf_N", "rf_R"
    )


# --- E3/E4 bucketize ---------------------------------------------------------


@register(
    "q10_bucketize",
    """
    SELECT c_custkey,
           CASE WHEN c_acctbal <= 60 THEN 0 ELSE 1 END AS bucket2,
           CASE WHEN c_acctbal <= 30 THEN 0
                WHEN c_acctbal <= 60 THEN 1 ELSE 2 END AS bucket3
    FROM customer
    """,
)
def q10_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold bucketing (E3 — the reference's age-group
    binning, `functions.py` age buckets): 2- and 3-way CASE ladders
    as map-side expressions (`operators/encodings.bucketize_age*`).
    Scale: zero-shuffle narrow transform; codegen-friendly CASE."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        bucketize_age2(F.col("c_acctbal")).alias("bucket2"),
        bucketize_age3(F.col("c_acctbal")).alias("bucket3"),
    )


# --- W2/W3 stratified fold assignment + set mapping -------------------------


FOLDS_SQL = f"""
  SELECT c_custkey, c_mktsegment,
         CAST(ntile(13) OVER (
             PARTITION BY c_mktsegment
             ORDER BY {pseudo_random_sql('c_custkey')} ASC, c_custkey ASC
           ) - 1 AS INTEGER) AS fold
  FROM customer
"""


@register(
    "q11_fold_assignment",
    f"""
    WITH f AS ({FOLDS_SQL})
    SELECT c_custkey, fold,
           CASE WHEN fold < 2 THEN 'val'
                WHEN fold < 6 THEN 'test'
                ELSE 'train' END AS set_name
    FROM f
    """,
)
def q11_fold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified fold assignment + fold→set mapping (W2/W3
    — the reference's CV-split builder): deterministic md5-derived
    pseudo-random ordering within strata (`operators/splits.
    assign_folds`), folds mapped to train/val/test. Scale: one
    shuffle on the stratum key; the ordering hash is data-derived so
    re-runs are reproducible across cluster sizes."""
    c = load_table(spark, sf_dir, "customer")
    f = assign_folds(c, ["c_mktsegment"], ["c_custkey"], n_folds=13, seed=42)
    return f.select("c_custkey", "fold", fold_to_set(F.col("fold")).alias("set_name"))


# --- A4 fold balance audit ---------------------------------------------------


@register(
    "q12_balance_audit",
    f"""
    WITH f AS ({FOLDS_SQL}),
    b AS (
      SELECT f.c_custkey, f.fold, CAST(FLOOR(c.c_acctbal) AS DOUBLE) AS bal
      FROM f JOIN customer c ON f.c_custkey = c.c_custkey
    )
    SELECT fold, COUNT(*) AS n, AVG(bal) AS avg_bal FROM b GROUP BY fold
    """,
)
def q12_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fold balance audit (A4 — the reference's check that
    CV folds have comparable size and label/feature means): per-fold
    count + mean balance after the stratified assignment. Scale:
    fold-cardinality output; one aggregation over the fold key
    reusing the split's shuffle; FLOOR keeps the mean integer-exact."""
    c = load_table(spark, sf_dir, "customer")
    f = assign_folds(c, ["c_mktsegment"], ["c_custkey"], n_folds=13, seed=42)
    b = f.withColumn("bal", F.floor(F.col("c_acctbal")).cast("double"))
    return balance_audit(b, "fold", mean_cols=["bal"]).select("fold", "n", "avg_bal")


# --- W1 seeded per-group sampling -------------------------------------------


@register(
    "q13_sample_per_group",
    f"""
    WITH r AS (
      SELECT l_orderkey, l_linenumber,
             row_number() OVER (
               PARTITION BY l_orderkey
               ORDER BY {pseudo_random_sql('l_orderkey', 'l_linenumber', seed=7)} ASC,
                        l_orderkey ASC, l_linenumber ASC
             ) AS rn
      FROM lineitem
    )
    SELECT l_orderkey, l_linenumber FROM r WHERE rn <= 2
    """,
)
def q13_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded per-group sampling (W1 — the reference's
    deterministic per-slide tile subsample): top-2 rows per order by a
    data-derived md5 pseudo-random key (`operators/sampling.
    sample_per_group`, `functions/deterministic.pseudo_random`).
    Scale: rank-window partitioned by the high-cardinality group key;
    WindowGroupLimit keeps k rows per group map-side (cf. q235), and
    determinism never depends on partitioning."""
    li = load_table(spark, sf_dir, "lineitem")
    s = sample_per_group(li, ["l_orderkey"], 2, ["l_orderkey", "l_linenumber"], seed=7)
    return s.select("l_orderkey", "l_linenumber")


# --- U1/P1 cohort union with provenance -------------------------------------


@register(
    "q14_union_cohorts",
    """
    WITH u AS (
      SELECT c_custkey, CAST(FLOOR(c_acctbal) AS DOUBLE) AS bal, 0 AS lab
      FROM customer WHERE c_acctbal >= 0
      UNION ALL
      SELECT c_custkey, CAST(FLOOR(c_acctbal) AS DOUBLE) AS bal, 1 AS lab
      FROM customer WHERE c_acctbal < 0
    )
    SELECT lab, COUNT(*) AS n, AVG(bal) AS avg_bal FROM u GROUP BY lab
    """,
)
def q14_union_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort union with label provenance (U1/P1 — the
    reference's multi-CSV cohort concat): two filtered scans union
    into one labeled relation, then a per-label audit aggregate.
    Scale: unionAll is plan-level (no data movement); the audit is a
    2-group partial aggregation."""
    c = load_table(spark, sf_dir, "customer").withColumn(
        "bal", F.floor(F.col("c_acctbal")).cast("double")
    )
    a = c.filter(F.col("c_acctbal") >= 0).withColumn("lab", F.lit(0))
    b = c.filter(F.col("c_acctbal") < 0).withColumn("lab", F.lit(1))
    return (
        a.unionByName(b)
        .groupBy("lab")
        .agg(F.count(F.lit(1)).alias("n"), F.avg("bal").alias("avg_bal"))
    )


# --- O1 top-1 per group ------------------------------------------------------


@register(
    "q15_topk_per_group",
    """
    WITH r AS (
      SELECT l_orderkey, l_linenumber, l_extendedprice,
             row_number() OVER (
               PARTITION BY l_orderkey
               ORDER BY l_extendedprice DESC, l_linenumber ASC
             ) AS rn
      FROM lineitem
    )
    SELECT l_orderkey, l_linenumber, l_extendedprice FROM r WHERE rn = 1
    """,
)
def q15_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1 row per group by value (O1 — the reference's
    per-slide argmax tile): row_number over (group, value DESC,
    unique tiebreak) filtered to 1. Scale: the rn<=1 filter compiles
    to WindowGroupLimit — each map task keeps one row per group
    before the exchange (the q235-verified pushdown), so shuffle
    volume is O(groups), not O(rows)."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        F.col("l_extendedprice").desc(), F.col("l_linenumber").asc()
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    )


# --- J5/C1 naive fusion ------------------------------------------------------


FUSION_SQL = (
    GROUPED_SQL
    + """,
    rf AS (
      SELECT o.o_orderkey AS group_id,
             CAST((o.o_custkey + c.c_nationkey) % 2 AS INTEGER) AS rf_pred
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    fused AS (
      SELECT gp.group_id, gp.group_score AS cnn_score, gp.pred AS cnn_pred,
             rf.rf_pred, gp.label,
             CASE WHEN gp.group_score <= 70.0 THEN rf.rf_pred ELSE gp.pred END AS fused_pred
      FROM gp JOIN rf ON gp.group_id = rf.group_id
    )
"""
)


def _fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = grouped_scores(spark, sf_dir).select(
        "group_id",
        F.col("group_score").alias("cnn_score"),
        F.col("pred").alias("cnn_pred"),
        "label",
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    rf = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("o_orderkey").alias("group_id"),
        ((F.col("o_custkey") + F.col("c_nationkey")) % 2).cast("int").alias("rf_pred"),
    )
    return naive_fusion(
        g, rf, on=["group_id"], threshold=70.0, broadcast_rf=False
    )


@register(
    "q16_naive_fusion",
    FUSION_SQL + "SELECT group_id, cnn_score, cnn_pred, rf_pred, label, fused_pred FROM fused",
)
def q16_naive_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-model naive fusion (C1/J5 — the reference's
    CNN+RF ensemble rule): zip-join of per-group predictions, fused
    verdict = secure-model override (`operators/fusion.
    naive_fusion`). Scale: one equi-join on the group key between two
    aggregates sharing the grouped-score shuffle."""
    return _fused(spark, sf_dir).select(
        "group_id", "cnn_score", "cnn_pred", "rf_pred", "label", "fused_pred"
    )


# --- C2/C8/A14 threshold sweep ----------------------------------------------


@register(
    "q17_threshold_sweep",
    GROUPED_SQL
    + """
    SELECT t.threshold,
           CAST(SUM(CASE WHEN gp.group_score > t.threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_secure,
           CAST(SUM(CASE WHEN gp.group_score > t.threshold THEN 0 ELSE 1 END) AS BIGINT) AS n_unsecure,
           AVG(CASE WHEN gp.group_score > t.threshold
                    THEN CASE WHEN gp.pred = gp.label THEN 1.0 ELSE 0.0 END
               END) AS acc_secure
    FROM gp CROSS JOIN (VALUES (50.0), (60.0), (70.0), (80.0), (90.0)) AS t(threshold)
    GROUP BY t.threshold
    """,
)
def q17_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certainty-threshold sweep (C2 — the reference's
    secure/unsecure operating-point scan): the grouped scores cross a
    5-row literal threshold grid, aggregating secure/unsecure counts
    and secure-subset accuracy per threshold (`operators/fusion.
    threshold_sweep`). Scale: the grid is a literal broadcast (the
    sanctioned nested-loop); one aggregation pass computes ALL
    thresholds — no per-threshold re-scan."""
    g = grouped_scores(spark, sf_dir)
    tagged = threshold_sweep(
        g, [50.0, 60.0, 70.0, 80.0, 90.0], score_col="group_score"
    )
    hit = F.when(F.col("pred") == F.col("label"), F.lit(1.0)).otherwise(F.lit(0.0))
    return tagged.groupBy("threshold").agg(
        F.sum("is_secure").cast("bigint").alias("n_secure"),
        F.sum(1 - F.col("is_secure")).cast("bigint").alias("n_unsecure"),
        F.avg(F.when(F.col("is_secure") == 1, hit)).alias("acc_secure"),
    )


# --- join family: semi / anti ------------------------------------------------


@register(
    "q18_semi_anti_join",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
    """,
)
def q18_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS + NOT-EXISTS customer selection (F6/J-family):
    customers with finished orders and no open ones — LEFT SEMI and
    LEFT ANTI joins on the customer key. Scale: semi/anti joins never
    replicate rows (at most one probe hit per build row), shuffling
    keys only; AQE picks broadcast sides when the filtered orders
    relation is small."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    has_f = o.filter(F.col("o_orderstatus") == "F")
    has_o = o.filter(F.col("o_orderstatus") == "O")
    return (
        c.join(has_f, c.c_custkey == has_f.o_custkey, "left_semi")
        .join(has_o, F.col("c_custkey") == has_o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


# --- set operations ----------------------------------------------------------


@register(
    "q19_set_ops",
    """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
    """,
)
def q19_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed set algebra (U-family): INTERSECT then EXCEPT over
    customer-key sets from differently-filtered scans of the same
    fact. Scale: set ops hash-aggregate on the 8-byte key; the three
    branches share one orders scan via exchange reuse."""
    o = load_table(spark, sf_dir, "orders")
    k = lambda s: o.filter(F.col("o_orderstatus") == s).select("o_custkey")  # noqa: E731
    return k("O").intersect(k("F")).subtract(k("P"))


# --- rollup ------------------------------------------------------------------


@register(
    "q20_rollup",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q20_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation (A-family hierarchy totals): (flag,
    status) → flag → grand-total grains in one pass. Scale: Spark
    expands rollup grouping sets inside the partial aggregate — one
    shuffle carries all three grains; DECIMAL sums stay exact across
    the re-aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), dsum(F.col("l_quantity"), "sum_qty")
    )


# --- window lag / running best (events; SURVEY §2.6 extension) --------------


@register(
    "q21_window_lag",
    """
    SELECT event_id, user_id, value,
           value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
    FROM events
    """,
)
def q21_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event delta (W5 — lag window): value minus
    previous value in (ts, event_id) order per user. Scale: the
    window partitions by the high-cardinality user key — per-user
    sorts distribute; the unique event_id tiebreak makes the order
    (and the driver hash) deterministic."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        "value",
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
    )


@register(
    "q22_running_best",
    """
    SELECT event_id, user_id,
           max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS best_so_far
    FROM events
    """,
)
def q22_running_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running maximum (W5 — cumulative frame):
    max(value) over rows-unbounded-preceding per user in event order.
    Scale: same distributed-window discipline as q21 (partition by
    user, unique tiebreak); the rows-frame max is O(1) per row."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select("event_id", "user_id", F.max("value").over(w).alias("best_so_far"))


# --- A7 distinct aggregates --------------------------------------------------


@register(
    "q23_distinct_agg",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q23_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column DISTINCT aggregation (A7): distinct part
    and supplier counts per return flag. Scale: Spark expands
    multi-distinct into an expand + two-phase aggregate — the
    exact-answer shape; the sketch alternative for 100 TB frequency
    ceilings is q95/q237 (approx/HLL)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


# --- TPC-H Q3-style shipping priority (scalar-subquery segment filter) ------


@register(
    "q24_shipping_priority",
    """
    WITH seg AS (SELECT MIN(c_mktsegment) AS s FROM customer)
    SELECT l.l_orderkey,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    CROSS JOIN seg
    WHERE c.c_mktsegment = seg.s
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey ASC
    LIMIT 10
    """,
)
def q24_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (priority revenue scan): segment-
    filtered customers ⋈ orders ⋈ lineitem with date windows, revenue
    per undelivered order. Scale: dimension filters push into the
    scans; orders⋈lineitem shuffles on the orderkey (fact-to-fact,
    never broadcast); the segment scalar is a one-row broadcast."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    seg = c.agg(F.min("c_mktsegment").alias("s"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        c.join(F.broadcast(seg), c.c_mktsegment == F.col("s"))
        .join(o, F.col("c_custkey") == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .filter(
            (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(disc_price, "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


# --- TPC-H Q5-style local supplier volume (multi-join + broadcast dims) -----


@register(
    "q25_local_volume",
    """
    SELECT n.n_name,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE s.s_nationkey % 5 = c.c_nationkey % 5
    GROUP BY n.n_name
    """,
)
def q25_local_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (regional volume): the five-way
    customer/orders/lineitem/supplier/nation join with a same-bucket
    residual predicate, revenue per nation. Scale: nation/region are
    broadcast dims; the two fact joins shuffle on their keys; the
    modular predicate is a residual filter, not a join explosion."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .filter(F.col("s_nationkey") % 5 == F.col("c_nationkey") % 5)
        .groupBy("n_name")
        .agg(dsum(disc_price, "revenue"))
    )


# --- P2/P3 path parsing ------------------------------------------------------


@register(
    "q26_path_parsing",
    r"""
    WITH paths AS (
      SELECT p_partkey,
             concat('/data/', p_brand, '/tile_', CAST(p_partkey AS VARCHAR),
                    '_', CAST(p_size AS VARCHAR), '.jpg') AS path
      FROM part
    )
    SELECT p_partkey, path,
           str_split(path, '/')[3] AS slide_name,
           CAST(regexp_extract(path, '_(\d+)_(\d+)\.jpg$', 1) AS INTEGER) AS tile_col,
           CAST(regexp_extract(path, '_(\d+)_(\d+)\.jpg$', 2) AS INTEGER) AS tile_row
    FROM paths
    """,
)
def q26_path_parsing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path metadata extraction (P2/P3 — the reference's
    filename→slide/tile-coordinate parser, `functions.py` path
    handling): synthesized tile paths split and regex-parsed back
    into (slide, col, row). Scale: pure map-side string work, no
    shuffle; regexes compile once per task inside codegen."""
    p = load_table(spark, sf_dir, "part")
    path = F.concat(
        F.lit("/data/"),
        F.col("p_brand"),
        F.lit("/tile_"),
        F.col("p_partkey").cast("string"),
        F.lit("_"),
        F.col("p_size").cast("string"),
        F.lit(".jpg"),
    )
    df = p.select("p_partkey", path.alias("path"))
    pat = r"_(\d+)_(\d+)\.jpg$"
    return df.select(
        "p_partkey",
        "path",
        F.element_at(F.split(F.col("path"), "/"), 3).alias("slide_name"),
        F.regexp_extract(F.col("path"), pat, 1).cast("int").alias("tile_col"),
        F.regexp_extract(F.col("path"), pat, 2).cast("int").alias("tile_row"),
    )


# --- conditional-agg status matrix (A4 pivot-style) -------------------------


@register(
    "q27_status_matrix",
    """
    SELECT c.c_mktsegment,
           CAST(SUM(CASE WHEN o.o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
           CAST(SUM(CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
           CAST(SUM(CASE WHEN o.o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_pending
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q27_status_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-status matrix per segment (F-family conditional
    counts — the reference's per-cohort status tally): pivot-style
    conditional sums over a customer⋈orders join. Scale: the join
    shuffles on custkey (both sides SF-scaled); the conditional-sum
    pivot is computed inside the partial aggregate, not as separate
    per-status passes."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    flag = lambda s: F.sum(  # noqa: E731
        F.when(F.col("o_orderstatus") == s, 1).otherwise(0)
    ).cast("bigint")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            flag("O").alias("n_open"),
            flag("F").alias("n_finished"),
            flag("P").alias("n_pending"),
        )
    )


# --- as-of join (temporal; beyond-reference join family) ---------------------


@register(
    "q28_asof_join",
    """
    SELECT e.event_id, e.user_id, e.value,
           c.value AS click_value,
           epoch_us(e.ts) - epoch_us(c.ts) AS micros_since
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON e.user_id = c.user_id AND e.ts >= c.ts
    """,
)
def q28_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each error event picks up the user's
    latest click at-or-before it (operators/temporal.asof_join —
    tagged-union + window, one shuffle)."""
    from patientdataintegration_spark.operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    j = asof_join(errors, clicks, on=["user_id"], payload=["value"], how="inner")
    return j.select(
        "event_id",
        "user_id",
        "value",
        F.col("asof_value").alias("click_value"),
        (F.unix_micros("ts") - F.unix_micros("asof_ts")).alias("micros_since"),
    )


# --- JSON extraction (semi-structured props column) --------------------------


@register(
    "q29_json_props",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
           CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def q29_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured lane: extract a field from the JSON `props`
    string and aggregate it. `get_json_object` evaluates JVM-side;
    at scale prefer parsing ONCE with `from_json` into a struct
    column if several fields are read."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


# --- gap-based sessionization (event analytics) -----------------------------


@register(
    "q42_sessionize",
    """
    WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
    l AS (
      SELECT user_id, event_id, us,
             lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us
      FROM e
    ),
    t AS (
      SELECT user_id, event_id, us,
             CASE WHEN prev_us IS NULL OR us - prev_us > 43200000000 THEN 1 ELSE 0 END AS new_s
      FROM l
    ),
    s AS (
      SELECT user_id, us,
             -- CAST: DuckDB's windowed SUM yields HUGEINT, which fetchdf()
             -- materializes as float64 and the driver hash sees '1.0' != '1'
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM t
    )
    SELECT user_id, session_id, MIN(us) AS start_us, MAX(us) AS end_us,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, session_id
    """,
)
def q42_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions (12 h inactivity gap) — lag + running sum,
    one shuffle (operators/sessionize)."""
    from patientdataintegration_spark.operators.sessionize import sessionize

    e = load_table(spark, sf_dir, "events")
    return sessionize(e, gap_seconds=43200)


# --- exact percentiles (order statistics) -----------------------------------


@register(
    "q43_percentiles",
    """
    SELECT l_returnflag,
           CAST(quantile_cont(CAST(l_quantity AS DOUBLE), 0.25) AS DOUBLE) AS p25,
           CAST(quantile_cont(CAST(l_quantity AS DOUBLE), 0.5) AS DOUBLE) AS p50,
           CAST(quantile_cont(CAST(l_quantity AS DOUBLE), 0.75) AS DOUBLE) AS p75
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q43_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (`percentile` is exact — the
    100 TB variant is `approx_percentile`, a mergeable KLL-style
    sketch; both are single-shuffle grouped aggs). l_quantity is
    integer-valued so the interpolation arithmetic is FP-exact and
    engine-portable."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.percentile(q, F.lit(0.25)).alias("p25"),
        F.percentile(q, F.lit(0.5)).alias("p50"),
        F.percentile(q, F.lit(0.75)).alias("p75"),
    )


# --- cube / grouping sets ----------------------------------------------------


@register(
    "q44_cube",
    """
    SELECT o_orderpriority, o_orderstatus,
           CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
)
def q44_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with grouping-id disambiguation (rollup's sibling, A4
    family extension — both engines share the MSB-first bit order).
    Scale: one Expand (4 grouping sets) feeds a single partial aggregate — one scan, one shuffle sized by the tiny key domains, never the fact volume."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderpriority", "o_orderstatus").agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("o_totalprice"), "sum_price"),
    )


# --- full experiment lifecycle (SURVEY §3.1 end-to-end) ---------------------


FULL_PIPE_SQL = f"""
  u AS (
    SELECT c_custkey, c_mktsegment, 0 AS lab,
           CASE WHEN c_custkey % 29 = 0 THEN NULL
                ELSE CAST(FLOOR(c_acctbal) AS DOUBLE) END AS age
    FROM customer WHERE c_acctbal >= 0
    UNION ALL
    SELECT c_custkey, c_mktsegment, 1 AS lab,
           CASE WHEN c_custkey % 29 = 0 THEN NULL
                ELSE CAST(FLOOR(c_acctbal) AS DOUBLE) END AS age
    FROM customer WHERE c_acctbal < 0
  ),
  fill AS (SELECT AVG(age) AS m FROM u),
  imp AS (SELECT u.*, COALESCE(u.age, fill.m) AS age_f FROM u CROSS JOIN fill),
  mm AS (SELECT MIN(age_f) AS mn, MAX(age_f) AS mx FROM imp),
  enc AS (
    SELECT imp.*, (imp.age_f - mm.mn) / (mm.mx - mm.mn) AS age_scaled
    FROM imp CROSS JOIN mm
  ),
  f AS (
    SELECT c_custkey,
           CAST(ntile(13) OVER (
               PARTITION BY c_mktsegment
               ORDER BY {pseudo_random_sql('c_custkey')} ASC, c_custkey ASC
             ) - 1 AS INTEGER) AS fold
    FROM customer
  ),
  dim AS (
    SELECT enc.c_custkey, enc.lab, enc.age_scaled, f.fold,
           CASE WHEN f.fold < 2 THEN 'val'
                WHEN f.fold < 6 THEN 'test'
                ELSE 'train' END AS set_name
    FROM enc JOIN f ON enc.c_custkey = f.c_custkey
  ),
  samp AS (
    SELECT l_orderkey, l_linenumber, l_discount FROM (
      SELECT l_orderkey, l_linenumber, l_discount,
             row_number() OVER (
               PARTITION BY l_orderkey
               ORDER BY {pseudo_random_sql('l_orderkey', 'l_linenumber', seed=7)} ASC,
                        l_orderkey ASC, l_linenumber ASC, l_discount ASC
             ) AS rn
      FROM lineitem
    ) WHERE rn <= 3
  ),
  ts AS (
    SELECT l.l_orderkey AS group_id, o.o_custkey,
           CAST(FLOOR(l.l_discount * 1000) AS DOUBLE) AS score_i,
           CAST(o.o_orderkey % 2 AS INTEGER) AS label
    FROM samp l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
  ),
  g AS (
    SELECT group_id, o_custkey, label, AVG(score_i) AS group_score,
           CASE WHEN AVG(score_i) >= 50.0 THEN 1 ELSE 0 END AS pred
    FROM ts GROUP BY group_id, o_custkey, label
  ),
  j AS (
    SELECT g.*, dim.set_name, dim.age_scaled
    FROM g JOIN dim ON g.o_custkey = dim.c_custkey
  )
"""


@register(
    "q45_full_pipeline",
    f"""
    WITH {FULL_PIPE_SQL},
    recalls AS (
      SELECT set_name, label,
             AVG(CASE WHEN pred = label THEN 1.0 ELSE 0.0 END) AS _recall
      FROM j GROUP BY set_name, label
    ),
    ba AS (SELECT set_name, AVG(_recall) AS bal_acc FROM recalls GROUP BY set_name),
    hist AS (
      SELECT set_name, group_score, COUNT(*) AS _n, SUM(label) AS _np
      FROM j GROUP BY set_name, group_score
    ),
    ranked AS (
      SELECT set_name, _n, _np,
             COALESCE(SUM(_n) OVER (PARTITION BY set_name ORDER BY group_score
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (_n + 1) / 2.0 AS _arank
      FROM hist
    ),
    auc AS (
      SELECT set_name,
             (SUM(_np * _arank) - SUM(_np) * (SUM(_np) + 1) / 2.0)
               / (SUM(_np) * SUM(_n - _np)) AS auroc
      FROM ranked GROUP BY set_name
    ),
    stats AS (
      SELECT set_name, COUNT(*) AS n_groups,
             ROUND(AVG(age_scaled), 9) AS avg_age_scaled
      FROM j GROUP BY set_name
    )
    SELECT s.set_name, s.n_groups, s.avg_age_scaled, ba.bal_acc, auc.auroc
    FROM stats s JOIN ba ON s.set_name = ba.set_name
    JOIN auc ON s.set_name = auc.set_name
    """,
)
def q45_full_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §3.1 lifecycle end-to-end, composed from the engine's
    operators: cohort union + provenance (U1/P1) → mean imputation
    (A1/A3) → min-max encoding (E1/W4) → stratified folds + set
    mapping (W2/W3) → seeded per-group sampling (W1) → fact join +
    grouped scoring (J1/A5/F3) → per-set balanced accuracy (A9),
    AUROC (A10), and encoded-feature means. One lazy DAG — Catalyst
    sees the whole pipeline, so pruning/pushdown/broadcasts span
    stage boundaries the reference executed eagerly.

    Plan-shape note: the physical plan rescans the customer DIMENSION
    once per derived statistic (impute means, scale bounds, fold
    stats, metric branches) — each scan column-pruned to the 1-2
    columns that statistic needs. This is the deliberate columnar
    trade: the fact tables (lineitem/orders) scan once per use, and a
    persist() of the dimension would hide runtime stats from AQE on
    every downstream join (measured 20x slower on the iterative
    lanes, operators/graph.py) — re-reading a pruned dimension
    column is cheaper than un-optimizing the join tree."""
    from patientdataintegration_spark.functions.metrics import auroc as auroc_fn
    from patientdataintegration_spark.functions.metrics import balanced_accuracy
    from patientdataintegration_spark.operators.imputation import impute_mean
    from patientdataintegration_spark.operators.encodings import scale01

    c = load_table(spark, sf_dir, "customer")
    masked_age = F.when(F.col("c_custkey") % 29 == 0, F.lit(None).cast("double")).otherwise(
        F.floor(F.col("c_acctbal")).cast("double")
    )
    pos = c.filter(F.col("c_acctbal") >= 0).withColumn("lab", F.lit(0))
    neg = c.filter(F.col("c_acctbal") < 0).withColumn("lab", F.lit(1))
    u = pos.unionByName(neg).withColumn("age", masked_age)
    imp = impute_mean(u, "age").withColumnRenamed("age", "age_f")
    enc = scale01(imp, ["age_f"], suffix="_scaled").withColumnRenamed(
        "age_f_scaled", "age_scaled"
    )
    folds = assign_folds(c, ["c_mktsegment"], ["c_custkey"], n_folds=13, seed=42).select(
        F.col("c_custkey").alias("f_custkey"), "fold"
    )
    dim = enc.join(folds, enc.c_custkey == folds.f_custkey).select(
        "c_custkey", "lab", "age_scaled", "fold", fold_to_set(F.col("fold")).alias("set_name")
    )

    li = load_table(spark, sf_dir, "lineitem")
    samp = sample_per_group(
        li, ["l_orderkey"], 3, ["l_orderkey", "l_linenumber"], seed=7,
        tiebreak_cols=["l_discount"],
    ).select("l_orderkey", "l_linenumber", "l_discount")
    o = load_table(spark, sf_dir, "orders")
    ts = samp.join(o, samp.l_orderkey == o.o_orderkey).select(
        F.col("l_orderkey").alias("group_id"),
        "o_custkey",
        F.floor(F.col("l_discount") * 1000).cast("double").alias("score_i"),
        (F.col("o_orderkey") % 2).cast("int").alias("label"),
    )
    g = ts.groupBy("group_id", "o_custkey", "label").agg(
        F.avg("score_i").alias("group_score")
    ).withColumn("pred", F.when(F.col("group_score") >= 50.0, 1).otherwise(0))
    # no explicit broadcast: dim derives from the full customer table
    # (linear in SF — 15M rows at SF100, not broadcastable); AQE picks
    # broadcast from runtime stats at small SF and shuffle at scale
    j = g.join(dim, g.o_custkey == dim.c_custkey).select(
        "group_id", "label", "group_score", "pred", "set_name", "age_scaled"
    )

    ba = balanced_accuracy(j, "label", "pred", ["set_name"])
    auc = auroc_fn(j, "label", "group_score", ["set_name"])
    stats = j.groupBy("set_name").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.round(F.avg("age_scaled"), 9).alias("avg_age_scaled"),
    )
    return stats.join(ba, "set_name").join(auc, "set_name")


# --- interval (range) join ---------------------------------------------------


@register(
    "q47_interval_join",
    """
    SELECT e.event_id AS error_id, c.event_id AS click_id, e.user_id,
           epoch_us(e.ts) - epoch_us(c.ts) AS micros_between
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON e.user_id = c.user_id
     AND c.ts <= e.ts AND c.ts > e.ts - INTERVAL 24 HOUR
    """,
)
def q47_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range join: every (error, click-of-same-user-within-
    preceding-24h) pair. Catalyst executes it as an equi-join on the
    user key with the range as a post-join predicate — one shuffle;
    the streaming twin (q99) runs the same condition with watermarked
    stream-stream join state."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), "user_id", F.col("ts").alias("e_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    j = e.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("e_ts"))
        & (F.col("c_ts") > F.col("e_ts") - F.expr("INTERVAL 24 HOURS")),
    )
    return j.select(
        "error_id",
        "click_id",
        "user_id",
        (F.unix_micros("e_ts") - F.unix_micros("c_ts")).alias("micros_between"),
    )


# --- map-typed metric dict (SURVEY §1.4 metric_dict analogue) ---------------


@register(
    "q48_metric_map",
    """
    WITH m AS (
      SELECT user_id, event_type,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_v
      FROM events GROUP BY user_id, event_type
    )
    SELECT user_id, event_type, sum_v FROM m
    """,
)
def q48_metric_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType round trip: per-user metric dict (event_type -> sum),
    the reference's `metric_dict` nested structure (`functions_v2.py:
    393-399`) as a map column — built with map_from_entries over a
    grouped collect_list, then exploded back to relational rows so
    the oracle can hash it. The map stays a first-class column for
    users (`eng.run(...).select(map_keys(...))`).
    Scale: two key-partitioned shuffles (user x type, then user); the map payload is bounded by the per-user event-TYPE domain, not the event count."""
    e = load_table(spark, sf_dir, "events")
    per = e.groupBy("user_id", "event_type").agg(
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_v")
    )
    as_map = per.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "sum_v")))
        ).alias("metrics")
    )
    return as_map.select(
        "user_id", F.explode("metrics").alias("event_type", "sum_v")
    )


# --- global top-k (TakeOrderedAndProject, no full sort) ---------------------


@register(
    "q49_global_topk",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100
    """,
)
def q49_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ORDER BY + LIMIT. Spark plans this as
    TakeOrderedAndProject: per-partition top-k heaps merged on the
    driver — O(n) scan, NO global sort exchange. The plan-shape test
    pins that; at 100 TB this is the difference between a full
    range-partitioned sort and a single narrow pass."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


# --- correlated subqueries (Catalyst decorrelation; SQL entry surface) ------


def _as_views(spark: SparkSession, sf_dir: str, *tables: str) -> None:
    """Register catalog tables as temp views for spark.sql queries.
    Views are cheap metadata; the parquet scan underneath is the same
    pruned/pushed-down scan the DataFrame lane gets."""
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


@register(
    "q50_exists_correlated",
    """
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    )
    GROUP BY o_orderpriority
    """,
)
def q50_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS with a non-equi predicate on
    the outer row. Catalyst decorrelates to a LEFT SEMI join on
    l_orderkey with the date comparison as join condition — one
    shuffle, no per-row subquery execution. Proves the SQL entry
    lane (spark.sql over temp views) alongside the DataFrame lane.
    Reference analogue: membership predicates (F6,
    `ExperimentSetup_v2.py:198-203`) generalized to dependent
    subqueries."""
    _as_views(spark, sf_dir, "orders", "lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM orders o
        WHERE EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        )
        GROUP BY o_orderpriority
        """
    )


@register(
    "q51_scalar_subquery",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0
             AS avg_yearly
    FROM lineitem l JOIN part p ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#23'
      AND l_quantity < (
        SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey
      )
    """,
)
def q51_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar aggregate subquery.
    Catalyst rewrites to a per-partkey aggregate joined back to the
    fact (RewriteCorrelatedScalarSubquery) — the naive plan would
    re-aggregate lineitem once per row. l_quantity is integer-valued
    so AVG is a sum of exact integers over a count: both engines get
    bit-identical doubles, and the 0.2* threshold compare is
    deterministic.
    Scale: after decorrelation the heavy step is one per-partkey shuffle of the brand-pruned fact plus a key join — no per-row re-aggregation survives in the plan."""
    _as_views(spark, sf_dir, "lineitem", "part")
    return spark.sql(
        """
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0
                 AS avg_yearly
        FROM lineitem l JOIN part p ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#23'
          AND l_quantity < (
            SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
            WHERE l2.l_partkey = l.l_partkey
          )
        """
    )


# --- unpivot / melt (wide -> long reshaping) --------------------------------


@register(
    "q52_unpivot",
    """
    SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value
    FROM part
    UNION ALL
    SELECT p_partkey, 'retailprice' AS metric, CAST(p_retailprice AS DOUBLE)
    FROM part
    """,
)
def q52_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long reshape via native unpivot (Spark 3.4+ `Unpivot`
    logical node — a zero-shuffle per-row expand, NOT a union of N
    re-scans like the oracle spelling). The reference's matrix view
    of selected columns (`functions_v2.py:29`) is this reshape's
    transpose."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("size"),
        F.col("p_retailprice").cast("double").alias("retailprice"),
    ).unpivot("p_partkey", ["size", "retailprice"], "metric", "value")


# --- HAVING + join-back (TPC-H Q18 large-volume groups) ---------------------


@register(
    "q53_having_join_back",
    """
    SELECT c_name, o.o_orderkey, o_totalprice, t.sum_qty
    FROM (
      SELECT l_orderkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 250
    ) t
    JOIN orders o ON o.o_orderkey = t.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def q53_having_join_back(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate with HAVING, joined back to the
    dimension rows. The HAVING filter runs at the aggregate (top
    ~1.5% of orders survive), so the join-back moves only the
    qualifying keys — at 100 TB the orders/customer probe is tiny
    after the filter and AQE converts it to a broadcast join."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            dsum(F.col("l_quantity"), "sum_qty"),
            F.sum("l_quantity").alias("_raw"),
        )
        .filter(F.col("_raw") > 250)
        .drop("_raw")
    )
    return big.join(o, big.l_orderkey == o.o_orderkey).join(
        c, F.col("o_custkey") == c.c_custkey
    ).select("c_name", "o_orderkey", "o_totalprice", "sum_qty")


# --- ntile / percent_rank deciles -------------------------------------------


@register(
    "q54_spend_deciles",
    """
    SELECT decile,
           COUNT(*) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sum_bal,
           MIN(pr) AS min_pr, MAX(pr) AS max_pr
    FROM (
      SELECT c_acctbal,
             NTILE(10) OVER w AS decile,
             PERCENT_RANK() OVER w AS pr
      FROM customer
      WINDOW w AS (ORDER BY c_acctbal DESC, c_custkey ASC)
    )
    GROUP BY decile
    """,
)
def q54_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE + PERCENT_RANK over a global ordering, rolled up per
    decile — since r7 computed with `operators/ranking.
    global_row_number` (range partition + local sort + broadcast
    prefix offsets) instead of an unpartitioned window: bit-identical
    output (the oracle still spells NTILE/PERCENT_RANK), but the plan
    has NO single-reducer WindowExec — every stage is parallel, so
    the same shape runs at 100 TB. The ordering (c_acctbal DESC,
    c_custkey ASC) is a unique total order, so rank == row_number and
    percent_rank = (rn-1)/(n-1) exactly (exact IEEE division,
    portable). For the sketch-based variant with bounded error
    instead of exact ranks, see q232_decile_edges_approx."""
    from patientdataintegration_spark.operators.ranking import (
        global_row_number,
        ntile_from_rank,
        percent_rank_from_rank,
    )

    c = load_table(spark, sf_dir, "customer").select("c_acctbal", "c_custkey")
    ranked = global_row_number(
        c,
        [F.col("c_acctbal").desc(), F.col("c_custkey").asc()],
        rn_col="rn",
        total_col="n_total",
    ).select(
        "c_acctbal",
        ntile_from_rank(F.col("rn"), F.col("n_total"), 10).alias("decile"),
        percent_rank_from_rank(F.col("rn"), F.col("n_total")).alias("pr"),
    )
    return ranked.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("c_acctbal"), "sum_bal"),
        F.min("pr").alias("min_pr"),
        F.max("pr").alias("max_pr"),
    )


# --- quantile binning (the 100 TB spelling of decile bucketing) -------------


@register(
    "q55_quantile_binning",
    """
    WITH e AS (
      SELECT CAST(quantile_cont(CAST(c_acctbal AS DOUBLE), 0.25) AS DECIMAL(18,6)) AS e1,
             CAST(quantile_cont(CAST(c_acctbal AS DOUBLE), 0.50) AS DECIMAL(18,6)) AS e2,
             CAST(quantile_cont(CAST(c_acctbal AS DOUBLE), 0.75) AS DECIMAL(18,6)) AS e3
      FROM customer
    )
    SELECT CASE WHEN CAST(c_acctbal AS DECIMAL(18,6)) <= e1 THEN 0
                WHEN CAST(c_acctbal AS DECIMAL(18,6)) <= e2 THEN 1
                WHEN CAST(c_acctbal AS DECIMAL(18,6)) <= e3 THEN 2
                ELSE 3 END AS bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sum_bal
    FROM customer, e
    GROUP BY bucket
    """,
)
def q55_quantile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile binning without a global sort: compute exact quartile
    edges as a 1-row aggregate, broadcast them, and bucket with a
    CASE expression. This is the scale-out replacement for q54's
    NTILE — edges are a mergeable aggregate (approx_percentile at
    100 TB), bucketing is map-side, and no single reducer ever sees
    the whole table. Edge compares go through decimal(18,6) so both
    engines' interpolation (error ≤1 ulp around a ≤4-decimal value)
    rounds to the same boundary."""
    c = load_table(spark, sf_dir, "customer")
    edges = c.agg(
        F.percentile(F.col("c_acctbal"), F.lit(0.25)).cast("decimal(18,6)").alias("e1"),
        F.percentile(F.col("c_acctbal"), F.lit(0.50)).cast("decimal(18,6)").alias("e2"),
        F.percentile(F.col("c_acctbal"), F.lit(0.75)).cast("decimal(18,6)").alias("e3"),
    )
    bal = F.col("c_acctbal").cast("decimal(18,6)")
    bucket = (
        F.when(bal <= F.col("e1"), 0)
        .when(bal <= F.col("e2"), 1)
        .when(bal <= F.col("e3"), 2)
        .otherwise(3)
        .alias("bucket")
    )
    return (
        c.crossJoin(F.broadcast(edges))
        .groupBy(bucket)
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("c_acctbal"), "sum_bal"))
    )


# --- pivot (long -> wide reshaping, q52's inverse) --------------------------


@register(
    "q56_pivot_status",
    """
    SELECT o_orderpriority,
           COALESCE(COUNT(*) FILTER (WHERE o_orderstatus = 'F'), 0) AS F,
           COALESCE(COUNT(*) FILTER (WHERE o_orderstatus = 'O'), 0) AS O,
           COALESCE(COUNT(*) FILTER (WHERE o_orderstatus = 'P'), 0) AS P
    FROM orders GROUP BY o_orderpriority
    """,
)
def q56_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long->wide pivot with an explicit value list. Passing the
    values up front matters at scale: without them Spark runs an
    extra distinct scan just to discover the columns. The pivot
    compiles to one hash aggregate over (priority × status) — same
    cost as the plain groupBy (A4's balance-profile report shape,
    functions_v2.py:84-95)."""
    o = load_table(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "o_orderpriority",
        *[F.coalesce(F.col(s), F.lit(0)).alias(s) for s in ("F", "O", "P")],
    )


# --- anti join via NOT EXISTS (complement of q50) ---------------------------


@register(
    "q57_not_exists_anti",
    """
    SELECT c_nationkey, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sum_bal
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_orderdate >= TIMESTAMP '2000-01-01'
    )
    GROUP BY c_nationkey
    """,
)
def q57_not_exists_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no recent orders (TPC-H Q22 shape): the date
    filter pushes to the orders scan, then a LEFT ANTI join ships
    only the surviving key column, and the per-nation rollup runs on
    the non-matching customers. Complement of q50's EXISTS/semi
    lane.
    Scale: the anti-join shuffles only the date-pruned key column of orders; the per-nation rollup partial-aggregates map-side."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    recent = o.filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
    return (
        c.join(recent.select("o_custkey"), c.c_custkey == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"), dsum(F.col("c_acctbal"), "sum_bal"))
    )


# --- full outer join of two aggregates --------------------------------------


@register(
    "q58_full_outer",
    """
    SELECT COALESCE(a.nk, b.nk) AS nationkey, a.n_cust, b.n_supp
    FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_cust
          FROM customer WHERE c_acctbal < -900 GROUP BY c_nationkey) a
    FULL OUTER JOIN
         (SELECT s_nationkey AS nk, COUNT(*) AS n_supp
          FROM supplier WHERE s_acctbal < -900 GROUP BY s_nationkey) b
    ON a.nk = b.nk
    """,
)
def q58_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two sparse per-nation aggregates, keeping
    nulls where one side is absent. Aggregating BEFORE the join is
    the scale move: each side collapses to ≤25 rows, so the outer
    join is trivially broadcastable instead of row-level
    fact-to-fact."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    a = (
        c.filter(F.col("c_acctbal") < -900)
        .groupBy(F.col("c_nationkey").alias("nk_a"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    b = (
        s.filter(F.col("s_acctbal") < -900)
        .groupBy(F.col("s_nationkey").alias("nk_b"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return a.join(b, a.nk_a == b.nk_b, "full_outer").select(
        F.coalesce(F.col("nk_a"), F.col("nk_b")).alias("nationkey"),
        "n_cust",
        "n_supp",
    )


# --- grouping sets (the general form of rollup/cube) ------------------------


@register(
    "q59_grouping_sets",
    """
    SELECT o_orderpriority, o_orderstatus,
           CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """,
)
def q59_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general form q20's ROLLUP and
    q44's CUBE specialize. One Expand node replicates each input row
    once per set, so it is a single-pass aggregate, not three scans.
    grouping_id bit order (MSB = first listed column) matches across
    engines.
    Scale: Expand triples map-side rows but the shuffle carries only partial aggregates over three small key domains — output-sized, not fact-sized."""
    _as_views(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               CAST(grouping_id(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        """
    )


# --- calendar arithmetic battery --------------------------------------------


@register(
    "q61_date_battery",
    """
    WITH o AS (SELECT CAST(o_orderdate AS DATE) AS od FROM orders)
    SELECT CAST(year(od) AS INTEGER) AS yr,
           CAST(quarter(od) AS INTEGER) AS qtr,
           COUNT(*) AS n,
           CAST(MIN(od + 30) AS VARCHAR) AS min_due,
           CAST(MAX(last_day(od)) AS VARCHAR) AS max_eom,
           CAST(MAX(date_diff('day', DATE '1992-01-01', od)) AS BIGINT)
             AS max_age_days
    FROM o
    GROUP BY yr, qtr
    """,
)
def q61_date_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar arithmetic (year/quarter extraction, date offsets,
    end-of-month, day differences) grouped per quarter — the P5
    experiment-id date handling (`ExperimentSetup_v2.py:34-40`)
    widened to the full date-function family. All pure JVM
    expressions inside whole-stage codegen; dates emitted as ISO
    strings so both engines hash identically.
    Scale: one scan with map-side partial aggregation down to year x quarter cardinality; the shuffle is output-sized."""
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.groupBy(
        F.year(d).cast("int").alias("yr"), F.quarter(d).cast("int").alias("qtr")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.date_add(d, 30)).cast("string").alias("min_due"),
        F.max(F.last_day(d)).cast("string").alias("max_eom"),
        F.max(F.datediff(d, F.lit("1992-01-01"))).cast("bigint").alias("max_age_days"),
    )


# --- CDC latest-per-key dedup (upsert compaction) ---------------------------


@register(
    "q63_latest_per_key",
    """
    SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
    FROM (
      SELECT user_id, event_id, ts, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q63_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC compaction: latest record per key (the merge/upsert
    read-side view). One shuffle on the key, row_number frame, keep
    rn=1 — at 100 TB this is the standard 'latest snapshot from an
    append log' pattern, and the partitioned window never needs a
    global sort. Tiebreak on event_id makes latest deterministic."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            "event_type",
        )
    )


# --- string-function battery -------------------------------------------------


@register(
    "q64_string_battery",
    """
    SELECT p_brand,
           COUNT(*) AS n,
           CAST(SUM(length(p_name)) AS BIGINT) AS sum_len,
           CAST(SUM(levenshtein(substr(p_name, 1, 10),
                                substr(reverse(p_name), 1, 10))) AS BIGINT)
             AS sum_lev,
           MIN(upper(replace(p_name, ' ', '-'))) AS min_name_slug,
           MAX(regexp_replace(p_type, '[aeiou]', '')) AS max_consonant_type,
           MIN(lpad(CAST(p_size AS VARCHAR), 4, '0')) AS min_size_padded
    FROM part
    GROUP BY p_brand
    """,
)
def q64_string_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function battery (length, levenshtein edit distance,
    case/replace/regexp/pad/reverse) rolled up per manufacturer —
    the P2/P3/P5 path-and-id string manipulation family
    (`dataset_classes_v1.py:62-71`) widened to the full built-in
    string surface. All JVM codegen expressions; levenshtein is the
    only quadratic one and runs on clamped 10-char prefixes.
    Scale: one scan, brand-cardinality shuffle via partial aggregation; the quadratic edit distance is bounded by the 10-char clamp so per-row cost is constant."""
    p = load_table(spark, sf_dir, "part")
    return p.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("p_name")).cast("bigint").alias("sum_len"),
        F.sum(
            F.levenshtein(
                F.substring("p_name", 1, 10), F.substring(F.reverse("p_name"), 1, 10)
            )
        )
        .cast("bigint")
        .alias("sum_lev"),
        F.min(F.upper(F.replace(F.col("p_name"), F.lit(" "), F.lit("-")))).alias(
            "min_name_slug"
        ),
        F.max(F.regexp_replace("p_type", "[aeiou]", "")).alias("max_consonant_type"),
        F.min(F.lpad(F.col("p_size").cast("string"), 4, "0")).alias("min_size_padded"),
    )


# --- exact per-label embedding centroids ------------------------------------


@register(
    "q65_label_centroids",
    """
    WITH dims AS (
      SELECT label,
             generate_subscripts(embedding, 1) AS pos,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000, 0) AS BIGINT) AS vq
      FROM embeddings
    )
    SELECT label, pos,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(vq) AS DOUBLE) / (10000.0 * COUNT(*)) AS mean_v
    FROM dims GROUP BY label, pos
    """,
)
def q65_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid (mean-pool the class embedding),
    computed exactly at any scale: posexplode to (label, dim, value),
    quantize each float32 to an integer at 1e-4 resolution, and take
    integer sums — order-free, mergeable, bit-identical across
    engines (raw double/decimal sums of arbitrary floats are not:
    engines disagree in the last ulp of the rounding). Both shuffles
    key on (label, dim), so no executor ever materializes a whole
    class's vectors. 640 output rows = 10 labels x 64 dims."""
    e = load_table(spark, sf_dir, "embeddings")
    dims = e.select(
        "label", F.posexplode("embedding").alias("pos0", "v0")
    ).select(
        "label",
        (F.col("pos0") + 1).alias("pos"),
        F.round(F.col("v0").cast("double") * 10000, 0).cast("bigint").alias("vq"),
    )
    return dims.groupBy("label", "pos").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        (F.sum("vq").cast("double") / (10000.0 * F.count(F.lit(1)))).alias("mean_v"),
    )


# --- TPC-H Q7 shape: bi-nation shipping volume ------------------------------


@register(
    "q66_nation_volume",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INTEGER) AS yr,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(18,6))) AS DOUBLE) AS volume
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    WHERE n1.n_name IN ('NATION_1', 'NATION_2')
      AND n2.n_name IN ('NATION_1', 'NATION_2')
      AND n1.n_name <> n2.n_name
    GROUP BY supp_nation, cust_nation, yr
    """,
)
def q66_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: six-way join tree. The two nation filters are
    applied BEFORE the big joins, so supplier and customer shrink to
    2/25 of their rows pre-shuffle and nation broadcasts; only
    lineitem⋈orders remains fact-to-fact. Catalyst pushes the
    IN-filters through the joins; AQE picks broadcast for the
    filtered dims at runtime."""
    sf = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    pair = F.col("n_name").isin("NATION_1", "NATION_2")
    n1 = n.filter(pair).select(
        F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.filter(pair).select(
        F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("cust_nation")
    )
    supp = sf.join(F.broadcast(n1), sf.s_nationkey == F.col("nk1")).select(
        "s_suppkey", "supp_nation"
    )
    cust = c.join(F.broadcast(n2), c.c_nationkey == F.col("nk2")).select(
        "c_custkey", "cust_nation"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(cust, o.o_custkey == cust.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("yr"),
        )
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "volume")
        )
    )


# --- TPC-H Q8 shape: market share ratio -------------------------------------


@register(
    "q67_market_share",
    """
    WITH vol AS (
      SELECT CAST(year(o.o_orderdate) AS INTEGER) AS yr,
             CAST(CASE WHEN n1.n_name = 'NATION_1'
                  THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))
                  ELSE CAST(0 AS DECIMAL(18,6)) END AS DECIMAL(18,6)) AS nation_vol,
             CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6)) AS total_vol
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n2.n_regionkey
      WHERE r.r_name = 'AMERICA'
    )
    SELECT yr,
           CAST(SUM(nation_vol) AS DOUBLE) / CAST(SUM(total_vol) AS DOUBLE)
             AS mkt_share
    FROM vol GROUP BY yr
    """,
)
def q67_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: a share-of-total ratio from one pass — the
    conditional numerator rides in the same aggregate as the
    denominator (no second scan, no join of two aggregates). The
    region filter prunes the customer side before the fact join; the
    final ratio divides two exact decimal sums, so it is IEEE-exact
    and engine-portable.
    Scale: nation/region/supplier/customer sides broadcast or prune early; the only large shuffles are the lineitem-orders key joins, and the share needs no second pass over the fact."""
    sf_ = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n2 = (
        n.join(
            F.broadcast(r.filter(F.col("r_name") == "AMERICA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(F.col("n_nationkey").alias("nk2"))
    )
    cust = c.join(F.broadcast(n2), c.c_nationkey == F.col("nk2")).select("c_custkey")
    supp = sf_.join(
        F.broadcast(n.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
        sf_.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "supp_nation")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    base = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(cust, o.o_custkey == F.col("c_custkey"), "left_semi")
        .join(F.broadcast(supp), li.l_suppkey == F.col("s_suppkey"))
        .select(
            F.year("o_orderdate").cast("int").alias("yr"),
            F.when(F.col("supp_nation") == "NATION_1", vol.cast("decimal(18,6)"))
            .otherwise(F.lit(0).cast("decimal(18,6)"))
            .alias("nation_vol"),
            vol.cast("decimal(18,6)").alias("total_vol"),
        )
    )
    return base.groupBy("yr").agg(
        (F.sum("nation_vol").cast("double") / F.sum("total_vol").cast("double")).alias(
            "mkt_share"
        )
    )


# --- array-function battery --------------------------------------------------


@register(
    "q68_array_battery",
    """
    WITH t AS (
      SELECT p_partkey,
             list_sort(list_distinct(string_split(p_name, ' '))) AS a,
             list_sort(list_distinct(string_split(p_type, ' '))) AS b
      FROM part
    )
    SELECT a[1][1:1] AS initial,
           COUNT(*) AS n_parts,
           CAST(SUM(len(a) + len(b)) AS BIGINT) AS sum_tokens,
           CAST(SUM(len(list_intersect(a, b))) AS BIGINT) AS sum_common,
           MIN(array_to_string(a, '|')) AS min_joined,
           MAX(CASE WHEN list_contains(a, 'widget') THEN 1 ELSE 0 END)
             AS has_widget
    FROM t
    GROUP BY initial
    """,
)
def q68_array_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function battery: split → distinct → sort → intersect →
    contains → join-to-string, rolled up by the first token's
    initial. All higher-order array expressions evaluate per-row
    JVM-side (no shuffle, no UDF) — the E6 feature-vector assembly
    lane (`dataset_classes_v1.py:79-91`) generalized to set algebra
    on token arrays."""
    p = load_table(spark, sf_dir, "part")
    t = p.select(
        F.array_sort(F.array_distinct(F.split(F.col("p_name"), " "))).alias("a"),
        F.array_sort(F.array_distinct(F.split(F.col("p_type"), " "))).alias("b"),
    )
    return (
        t.select(
            F.substring(F.element_at(F.col("a"), 1), 1, 1).alias("initial"),
            (F.size("a") + F.size("b")).alias("n_tokens"),
            F.size(F.array_intersect(F.col("a"), F.col("b"))).alias("n_common"),
            F.array_join(F.col("a"), "|").alias("joined"),
            F.array_contains(F.col("a"), "widget").cast("int").alias("has_w"),
        )
        .groupBy("initial")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
            F.sum("n_common").cast("bigint").alias("sum_common"),
            F.min("joined").alias("min_joined"),
            F.max("has_w").alias("has_widget"),
        )
    )


# --- forward fill (last non-null, IGNORE NULLS window) ----------------------


@register(
    "q69_forward_fill",
    """
    WITH e AS (
      SELECT event_id, user_id, ts,
             CASE WHEN event_type = 'click' THEN NULL ELSE value END AS v
      FROM events
    )
    SELECT event_id, user_id,
           CAST(last_value(v IGNORE NULLS) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS DOUBLE) AS v_filled
    FROM e
    """,
)
def q69_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill: carry the last non-null observation forward per
    key (the distributed spelling of pandas ffill — the reference
    imputes statically via A1-A3; time-ordered gap-fill is its
    sequential sibling). One shuffle on user_id; the running
    last-non-null frame is O(1) per row. Rows before a key's first
    observation stay null — both engines agree."""
    e = load_table(spark, sf_dir, "events")
    v = F.when(F.col("event_type") == "click", F.lit(None)).otherwise(F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.last(v, ignorenulls=True).over(w).cast("double").alias("v_filled"),
    )


# --- multiple DISTINCT aggregates in one pass -------------------------------


@register(
    "q70_multi_distinct",
    """
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_custs,
           COUNT(DISTINCT CASE WHEN o_totalprice > 150000
                               THEN o_custkey END) AS n_big_custs,
           COUNT(DISTINCT year(o_orderdate)) AS n_years,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
)
def q70_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Several DISTINCT aggregates with different keys in one query —
    Catalyst compiles them to a single Expand (one input replica per
    distinct clause) + two-level aggregate, not N self-joined
    subqueries. The conditional distinct (big spenders) is the
    filtered-distinct idiom. At 100 TB the Expand multiplies shuffle
    volume by #distinct-clauses — the documented trade; the
    alternative per-clause rescans cost more."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_custs"),
        F.countDistinct(
            F.when(F.col("o_totalprice") > 150000, F.col("o_custkey"))
        ).alias("n_big_custs"),
        F.countDistinct(F.year("o_orderdate")).alias("n_years"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# --- first_value / nth_value windows ----------------------------------------


@register(
    "q71_first_nth_value",
    """
    SELECT user_id,
           first_value(event_type) OVER w AS first_type,
           nth_value(event_type, 3) OVER (PARTITION BY user_id
                ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS third_type,
           CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_events
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    QUALIFY ROW_NUMBER() OVER w = 1
    """,
)
def q71_first_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user journey summary: first and third event type plus
    event count, one row per user (QUALIFY rn=1 in the oracle, a
    row_number filter here). first/nth_value run in the same
    user_id-partitioned window pass as the row_number — one shuffle
    total."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        e.select(
            "user_id",
            F.first("event_type").over(w).alias("first_type"),
            F.nth_value("event_type", 3).over(w_all).alias("third_type"),
            F.count(F.lit(1)).over(Window.partitionBy("user_id")).cast("bigint").alias("n_events"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# --- declarative data-quality gate ------------------------------------------


@register(
    "q73_quality_checks",
    """
    WITH base AS (
      SELECT COUNT(*) AS n_rows,
             SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS v_0,
             SUM(CASE WHEN o_totalprice IS NULL
                       OR NOT (o_totalprice BETWEEN 0 AND 1000000)
                      THEN 1 ELSE 0 END) AS v_1,
             SUM(CASE WHEN NOT (o_orderpriority IN
                      ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'))
                      THEN 1 ELSE 0 END) AS v_2,
             SUM(CASE WHEN NOT regexp_matches(o_orderstatus, '^[FOP]$')
                      THEN 1 ELSE 0 END) AS v_3
      FROM orders
    ),
    long AS (
      SELECT 'not_null_o_custkey' AS check_name, v_0 AS n_violations, n_rows FROM base
      UNION ALL SELECT 'range_o_totalprice', v_1, n_rows FROM base
      UNION ALL SELECT 'accepted_o_orderpriority', v_2, n_rows FROM base
      UNION ALL SELECT 'status_format', v_3, n_rows FROM base
      UNION ALL
      SELECT 'unique_o_orderkey',
             SUM(CASE WHEN n > 1 THEN n ELSE 0 END),
             SUM(n)
      FROM (SELECT o_orderkey, COUNT(*) AS n FROM orders GROUP BY o_orderkey)
    )
    SELECT check_name, CAST(n_violations AS BIGINT) AS n_violations,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_violations AS DOUBLE) / n_rows AS violation_ratio
    FROM long
    """,
)
def q73_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate: null/range/accepted-values/
    regex checks compile into ONE conditional aggregate over ONE scan
    (stack() unpivots the report); key uniqueness adds its single
    shuffle and unions into the same report schema. The admission
    gate a training pipeline runs on every ingest batch."""
    from patientdataintegration_spark.operators.quality_checks import (
        accepted_values,
        in_range,
        matches,
        not_null,
        run_checks,
        uniqueness_check,
    )

    o = load_table(spark, sf_dir, "orders")
    report = run_checks(
        o,
        [
            not_null("o_custkey"),
            in_range("o_totalprice", 0, 1_000_000),
            accepted_values(
                "o_orderpriority",
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            ),
            matches("o_orderstatus", "^[FOP]$", name="status_format"),
        ],
    )
    return report.unionByName(uniqueness_check(o, ["o_orderkey"]))


# --- funnel analysis (ordered multi-step conversion) ------------------------


@register(
    "q74_funnel",
    """
    WITH per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
      FROM events GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS step_view,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                    THEN 1 ELSE 0 END) AS BIGINT) AS step_click,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                     AND t_buy > t_click THEN 1 ELSE 0 END) AS BIGINT) AS step_buy
    FROM per_user
    """,
)
def q74_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click → purchase): first-touch time per
    step via conditional MIN in one aggregate, then ordering
    predicates between the step times. One shuffle on user_id, no
    joins, no window — the scalable funnel spelling (a per-step
    self-join would be 3 fact-fact joins)."""
    e = load_table(spark, sf_dir, "events")

    def first_ts(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    per_user = e.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_buy"),
    )
    did_view = F.col("t_view").isNotNull()
    did_click = did_view & (F.col("t_click") > F.col("t_view"))
    did_buy = did_click & (F.col("t_buy") > F.col("t_click"))
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(did_view.cast("int")).alias("step_view"),
        F.sum(did_click.cast("int")).alias("step_click"),
        F.sum(did_buy.cast("int")).alias("step_buy"),
    )


# --- retention cohorts -------------------------------------------------------


@register(
    "q75_retention_cohorts",
    """
    WITH firsts AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id,
             date_diff('day', f.first_day, CAST(e.ts AS DATE)) // 7 AS week_n,
             f.first_day
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT CAST(date_trunc('week', first_day) AS VARCHAR) AS cohort_week,
           CAST(week_n AS INTEGER) AS week_n,
           COUNT(*) AS n_active
    FROM activity GROUP BY cohort_week, week_n
    """,
)
def q75_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention matrix: cohort = week of first event, cell = users
    active N weeks later. The first-touch aggregate and the activity
    dedup both shuffle on user_id (partitioning reuse); the cohort
    rollup is a tiny second aggregate. week_n = floor(days-since-
    first/7) — calendar-agnostic; the cohort label uses Monday-based
    date_trunc('week') (same in both engines)."""
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("first_day"))
    activity = (
        e.join(firsts, "user_id")
        .select(
            "user_id",
            F.floor(
                F.datediff(F.to_date("ts"), F.col("first_day")) / 7
            ).cast("int").alias("week_n"),
            "first_day",
        )
        .distinct()
    )
    return activity.groupBy(
        F.date_trunc("week", F.col("first_day")).cast("date").cast("string").alias(
            "cohort_week"
        ),
        "week_n",
    ).agg(F.count(F.lit(1)).alias("n_active"))


# --- deterministic stratified sampling (fraction per stratum) ---------------


@register(
    "q76_stratified_sample",
    """
    WITH s AS (
      SELECT l_returnflag, l_quantity,
             ((((CAST(l_orderkey AS BIGINT) * 2654435761 + 682717 + CAST(l_linenumber AS BIGINT) * 40503) % 1000000007) * ((CAST(l_orderkey AS BIGINT) * 2654435761 + 682717 + CAST(l_linenumber AS BIGINT) * 40503) % 1000000007)) % 1000000007) AS draw,
             CASE l_returnflag WHEN 'R' THEN 0.5 WHEN 'A' THEN 0.1
                  ELSE 0.01 END AS frac
      FROM lineitem
    )
    SELECT l_returnflag,
           COUNT(*) AS n_sampled,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
    FROM s WHERE draw < frac * 1000000007
    GROUP BY l_returnflag
""",
)
def q76_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum fraction sampling with engine-portable determinism:
    the keep/drop draw derives from the row's own keys
    (functions/deterministic.pseudo_random), so the sample is
    identical under ANY partitioning, any run, any engine — unlike
    rand(seed), whose draw depends on the partition layout. This is
    `df.sampleBy` made reproducible-by-construction; pure map-side
    filter, zero extra shuffles (W1's seeded-sampling contract,
    `dataset_classes_v1.py:44-48`, generalized to fractions)."""
    li = load_table(spark, sf_dir, "lineitem")
    draw = pseudo_random(F.col("l_orderkey"), F.col("l_linenumber"), seed=7)
    frac = (
        F.when(F.col("l_returnflag") == "R", 0.5)
        .when(F.col("l_returnflag") == "A", 0.1)
        .otherwise(0.01)
    )
    from patientdataintegration_spark.functions.deterministic import MODULUS

    return (
        li.filter(draw < frac * F.lit(MODULUS))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            dsum(F.col("l_quantity"), "sum_qty"),
        )
    )


# --- consolidation batteries (grouping / subquery) --------------------------
# One oracle-checked query per family so the whole family fits inside
# the driver's bounded correctness window; the individual queries
# (q20/q44/q59, q50/q51/q57) stay registered for direct use.


_GROUPING_BATTERY_SQL = """
    SELECT 'rollup' AS battery, o_orderpriority, o_orderstatus,
           CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    UNION ALL
    SELECT 'cube' AS battery, o_orderpriority, o_orderstatus,
           CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
    UNION ALL
    SELECT 'gsets' AS battery, o_orderpriority, o_orderstatus,
           CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """


@register("q78_grouping_battery", _GROUPING_BATTERY_SQL)
def q78_grouping_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP + CUBE + GROUPING SETS over orders in one result (A4
    family, q20/q44/q59 consolidated). Each arm is a single Expand-
    pass aggregate; grouping_id's MSB-first bit order matches both
    engines. Three scans of one table — at scale each arm is the
    same single-shuffle plan as its standalone query."""
    _as_views(spark, sf_dir, "orders")
    return spark.sql(
        _GROUPING_BATTERY_SQL.replace(
            "GROUPING(o_orderpriority, o_orderstatus)",
            "grouping_id(o_orderpriority, o_orderstatus)",
        )
    )


@register(
    "q79_subquery_battery",
    """
    SELECT 'exists' AS battery, o_orderpriority AS key,
           COUNT(*) AS n, CAST(NULL AS DOUBLE) AS val
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    )
    GROUP BY o_orderpriority
    UNION ALL
    SELECT 'scalar' AS battery, 'all' AS key, CAST(NULL AS BIGINT) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0 AS val
    FROM lineitem l JOIN part p ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#23'
      AND l_quantity < (
        SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey
      )
    UNION ALL
    SELECT 'not_exists' AS battery, CAST(c_nationkey AS VARCHAR) AS key,
           COUNT(*) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS val
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_orderdate >= TIMESTAMP '2000-01-01'
    )
    GROUP BY c_nationkey
    """,
)
def q79_subquery_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / scalar-aggregate subquery / NOT EXISTS in
    one conformed result (q50/q51/q57 consolidated). Composes the
    proven standalone queries — Catalyst decorrelates each arm to its
    semi/anti/aggregate-join-back plan; the union is plan-level, not
    a materialization.
    Scale: a union of three independently-proven plans — each branch keeps its pushed-down filters and decorrelated join shape, adding no shuffle beyond its standalone form."""
    ex = q50_exists_correlated(spark, sf_dir).select(
        F.lit("exists").alias("battery"),
        F.col("o_orderpriority").alias("key"),
        F.col("n_orders").alias("n"),
        F.lit(None).cast("double").alias("val"),
    )
    sc = q51_scalar_subquery(spark, sf_dir).select(
        F.lit("scalar").alias("battery"),
        F.lit("all").alias("key"),
        F.lit(None).cast("bigint").alias("n"),
        F.col("avg_yearly").alias("val"),
    )
    ne = q57_not_exists_anti(spark, sf_dir).select(
        F.lit("not_exists").alias("battery"),
        F.col("c_nationkey").cast("string").alias("key"),
        F.col("n_customers").alias("n"),
        F.col("sum_bal").alias("val"),
    )
    return ex.unionAll(sc).unionAll(ne)
