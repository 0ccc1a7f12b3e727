"""Round-4 extension suite: OLAP surface breadth (equi-depth
histogram, pivot), behavioral analytics (retention, transitions,
streaks, trend deltas, A/B z-scores), distribution statistics
(exact interpolated percentiles, column entropy) and data-quality
audits (referential orphans, snapshot diff/CDC).

Same exactness contract as `suite/ext.py`: integer-valued sums ride
exact in doubles/decimals, rounded outputs normalize IEEE -0.0 with
`+ 0.0`, and every aggregate/computed column carries the SAME alias
in the Spark plan and the DuckDB oracle so the driver's column-sorted
value hash lines up.

Scale notes per query are in the docstrings; the common theme: each
query is one-to-three shuffles on 8-byte keys, subtotal frames are
tiny and broadcast, and nothing collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from patientdataintegration_spark.sources.catalog import load_table
from patientdataintegration_spark.suite.registry import register


# --- ROLLUP / grouping sets --------------------------------------------------


@register(
    "q145_equidepth_histogram",
    """
    WITH r AS (
      SELECT CAST(l_extendedprice AS DOUBLE) AS x,
             ntile(8) OVER (ORDER BY CAST(l_extendedprice AS DOUBLE),
                            l_orderkey, l_linenumber) AS bin
      FROM lineitem
    )
    SELECT CAST(bin AS BIGINT) AS bin, COUNT(*) AS n,
           ROUND(MIN(x), 2) AS bin_min, ROUND(MAX(x), 2) AS bin_max
    FROM r GROUP BY bin
    """,
)
def q145_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (8 quantile bins of extended price) — the
    sibling of q143's equi-width bins: bin boundaries adapt to the
    distribution, so each bin holds the same row count ±1. `ntile`
    is pure row_number arithmetic over a DETERMINISTIC total order
    (value + the (orderkey, linenumber) key as tiebreak), hence
    engine-exact. Since r7 the ranks come from `operators/ranking.
    global_row_number` — an actual range-partition parallel sort
    with broadcast prefix offsets — so the plan carries no
    unpartitioned WindowExec and the exact form itself scales; the
    sketch-based bounded-error variant is q233_equidepth_approx."""
    from patientdataintegration_spark.operators.ranking import (
        global_row_number,
        ntile_from_rank,
    )

    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_extendedprice").cast("double").alias("x"),
        "l_orderkey",
        "l_linenumber",
    )
    r = global_row_number(
        base,
        [F.col("x").asc(), F.col("l_orderkey").asc(), F.col("l_linenumber").asc()],
        rn_col="rn",
        total_col="n_total",
    ).select(
        "x", ntile_from_rank(F.col("rn"), F.col("n_total"), 8).alias("bin")
    )
    return r.groupBy(F.col("bin").cast("bigint").alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("x"), 2).alias("bin_min"),
        F.round(F.max("x"), 2).alias("bin_max"),
    )


# --- PIVOT -------------------------------------------------------------------

_Q146_LANGS = ("de", "en", "es", "fr", "zh")


@register(
    "q146_pivot_lang",
    "SELECT source, "
    + ", ".join(
        f"COUNT(*) FILTER (WHERE lang = '{lg}') AS {lg}" for lg in _Q146_LANGS
    )
    + " FROM documents GROUP BY source",
)
def q146_pivot_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crosstab source × language — the pivot surface. Explicit value
    list keeps it ONE scan + one aggregate (no distinct-values
    pre-pass); each cell is a conditional count, so the plan is a
    plain hash aggregate with 5 count columns, map-side partialed.
    The oracle spells the same thing as FILTERed counts (engine-
    portable pivot semantics)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .pivot("lang", list(_Q146_LANGS))
        .count()
        .na.fill(0, list(_Q146_LANGS))
    )


# --- retention cohorts -------------------------------------------------------


@register(
    "q147_retention_cohorts",
    """
    WITH w AS (
      SELECT user_id, CAST(FLOOR(epoch(ts) / 604800) AS BIGINT) AS week
      FROM events
    ),
    c AS (SELECT user_id, MIN(week) AS cohort_week FROM w GROUP BY user_id)
    SELECT c.cohort_week,
           w.week - c.cohort_week AS week_offset,
           CAST(COUNT(DISTINCT w.user_id) AS BIGINT) AS n_users
    FROM w JOIN c ON w.user_id = c.user_id
    GROUP BY c.cohort_week, w.week - c.cohort_week
    """,
)
def q147_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: users bucketed by first-activity
    week (cohort), counted distinct at each week offset — the
    behavioral-analytics staple. The cohort week is a window MIN over
    the user partition rather than an aggregate-and-join-back, so
    events scan ONCE (the join-back shape re-reads the fact table —
    a second full scan at 100 TB): one shuffle on user_id for the
    window, one on the tiny (cohort, offset) key for the distinct
    count. Epoch-week integers avoid cross-engine date-truncation
    differences."""
    e = load_table(spark, sf_dir, "events")
    wuser = Window.partitionBy("user_id")
    w = e.select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / F.lit(604800)).cast("bigint").alias("week"),
    ).withColumn("cohort_week", F.min("week").over(wuser))
    return (
        w.groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").cast("bigint").alias("n_users"))
    )


# --- event transition matrix (first-order Markov) ---------------------------


@register(
    "q148_markov_transitions",
    """
    WITH s AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY epoch_us(ts), event_id) AS prev_type
      FROM events
    ),
    t AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS n
      FROM s WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    )
    SELECT prev_type, next_type, CAST(n AS BIGINT) AS n,
           ROUND(CAST(n AS DOUBLE)
                 / SUM(CAST(n AS DOUBLE)) OVER (PARTITION BY prev_type), 6)
             AS p_transition
    FROM t
    """,
)
def q148_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-transition matrix per user stream: lag
    window → (prev, next) counts → row-normalized probabilities —
    the sequence-mining primitive (what follows what?). One window
    shuffle on user_id, one aggregate on the 25-cell transition key,
    and a window over the TINY aggregated frame for the row sums
    (integer counts, so the normalizing division is the only FP
    step)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    s = e.select(
        "user_id",
        F.col("event_type").alias("next_type"),
        F.lag("event_type").over(w).alias("prev_type"),
    )
    t = (
        s.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wp = Window.partitionBy("prev_type")
    return t.select(
        "prev_type",
        "next_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(
            F.col("n").cast("double") / F.sum(F.col("n").cast("double")).over(wp), 6
        ).alias("p_transition"),
    )


# --- exact interpolated percentiles -----------------------------------------


@register(
    "q149_percentiles",
    """
    SELECT event_type,
           COUNT(*) AS n,
           ROUND(quantile_cont(value, 0.5), 6) + 0.0 AS p50,
           ROUND(quantile_cont(value, 0.9), 6) + 0.0 AS p90,
           ROUND(quantile_cont(value, 0.99), 6) + 0.0 AS p99
    FROM events GROUP BY event_type
    """,
)
def q149_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (p50/p90/p99) of event value per
    type — the latency/SLA-style distribution summary. Spark's exact
    `percentile` and DuckDB's `quantile_cont` share the (n-1)·p
    linear-interpolation definition, so rounded outputs hash-match.
    At 100 TB swap `percentile` for `percentile_approx` (t-digest,
    mergeable partial sketches — no per-group full sort); the exact
    form is what the oracle can pin."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.round(F.expr("percentile(value, 0.5D)"), 6) + F.lit(0.0)).alias("p50"),
        (F.round(F.expr("percentile(value, 0.9D)"), 6) + F.lit(0.0)).alias("p90"),
        (F.round(F.expr("percentile(value, 0.99D)"), 6) + F.lit(0.0)).alias("p99"),
    )


# --- referential-integrity audit --------------------------------------------


@register(
    "q150_orphan_audit",
    """
    SELECT 'lineitem->orders' AS fk, CAST(COUNT(*) AS BIGINT) AS n_orphans
    FROM lineitem l WHERE NOT EXISTS (
      SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'orders->customer', CAST(COUNT(*) AS BIGINT)
    FROM orders o WHERE NOT EXISTS (
      SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'customer->nation', CAST(COUNT(*) AS BIGINT)
    FROM customer c WHERE NOT EXISTS (
      SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
    """,
)
def q150_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts along three FK
    edges via LEFT ANTI joins — the data-quality gate a pipeline runs
    before publishing a snapshot. Each anti-join shuffles only the
    join keys (column-pruned scans); the parent side of
    customer->nation is 25 rows and broadcasts. Constant-labeled
    1-row aggregates union into the report frame."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    na = load_table(spark, sf_dir, "nation").select("n_nationkey")

    def count_orphans(child, parent, on, label):
        return (
            child.join(parent, on=on, how="left_anti")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_orphans"))
            .select(F.lit(label).alias("fk"), "n_orphans")
        )

    return (
        count_orphans(
            li,
            o.select("o_orderkey"),
            li["l_orderkey"] == o["o_orderkey"],
            "lineitem->orders",
        )
        .unionByName(
            count_orphans(
                o.select("o_custkey"),
                cu.select("c_custkey"),
                o["o_custkey"] == cu["c_custkey"],
                "orders->customer",
            )
        )
        .unionByName(
            count_orphans(
                cu.select("c_nationkey"),
                F.broadcast(na),
                cu["c_nationkey"] == na["n_nationkey"],
                "customer->nation",
            )
        )
    )


# --- gaps-and-islands activity streaks --------------------------------------


@register(
    "q151_activity_streaks",
    """
    WITH d AS (
      SELECT DISTINCT user_id,
             CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day
      FROM events
    ),
    r AS (
      SELECT user_id, day,
             day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
      FROM d
    ),
    runs AS (
      SELECT user_id, grp, COUNT(*) AS len FROM r GROUP BY user_id, grp
    )
    SELECT user_id,
           CAST(SUM(len) AS BIGINT) AS n_active_days,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(MAX(len) AS BIGINT) AS max_streak
    FROM runs GROUP BY user_id
    """,
)
def q151_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-day activity streaks per user — the gaps-and-
    islands pattern: distinct active days, then `day − row_number`
    constant-per-run keys, then run lengths. All integer arithmetic
    on epoch-days (no date types → no cross-engine calendar edge
    cases); the distinct, the window and the two aggregates all
    partition on user_id, so AQE coalesces them onto one exchange."""
    e = load_table(spark, sf_dir, "events")
    d = e.select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / F.lit(86400)).cast("bigint").alias("day"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    r = d.select(
        "user_id", "day", (F.col("day") - F.row_number().over(w)).alias("grp")
    )
    runs = r.groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("len"))
    return runs.groupBy("user_id").agg(
        F.sum("len").cast("bigint").alias("n_active_days"),
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
        F.max("len").cast("bigint").alias("max_streak"),
    )


# --- week-over-week deltas ---------------------------------------------------


@register(
    "q152_wow_change",
    """
    WITH w AS (
      SELECT event_type,
             CAST(FLOOR(epoch(ts) / 604800) AS BIGINT) AS week,
             COUNT(*) AS n
      FROM events GROUP BY event_type, 2
    ),
    l AS (
      SELECT event_type, week, n,
             lag(n) OVER (PARTITION BY event_type ORDER BY week) AS prev_n
      FROM w
    )
    SELECT event_type, week, CAST(n AS BIGINT) AS n,
           CAST(prev_n AS BIGINT) AS prev_n,
           ROUND((CAST(n AS DOUBLE) - prev_n) / prev_n * 100, 6) + 0.0
             AS pct_change
    FROM l
    """,
)
def q152_wow_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week percent change of event volume per type — the
    trend-delta report. Aggregate first (events collapse to a
    |types|×|weeks| frame), THEN window-lag over the tiny series:
    the window shuffle moves aggregate rows, never raw events. First
    week per type has NULL prev/pct on both engines; the rounded
    difference-derived pct normalizes -0.0 (+ 0.0)."""
    e = load_table(spark, sf_dir, "events")
    w = (
        e.groupBy(
            "event_type",
            F.floor(F.unix_timestamp("ts") / F.lit(604800))
            .cast("bigint")
            .alias("week"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    lw = Window.partitionBy("event_type").orderBy("week")
    lagged = w.select(
        "event_type",
        "week",
        F.col("n").cast("bigint").alias("n"),
        F.lag("n").over(lw).cast("bigint").alias("prev_n"),
    )
    return lagged.select(
        "event_type",
        "week",
        "n",
        "prev_n",
        (
            F.round(
                (F.col("n").cast("double") - F.col("prev_n"))
                / F.col("prev_n")
                * 100,
                6,
            )
            + F.lit(0.0)
        ).alias("pct_change"),
    )


# --- snapshot diff (CDC between table versions) -----------------------------


@register(
    "q153_snapshot_diff",
    """
    WITH old_s AS (
      SELECT c_custkey AS key,
             CAST(c_acctbal AS DOUBLE) AS bal, c_mktsegment AS seg
      FROM customer WHERE c_custkey % 7 <> 0
    ),
    new_s AS (
      SELECT c_custkey AS key,
             CAST(c_acctbal AS DOUBLE) + (c_custkey % 3) AS bal,
             c_mktsegment AS seg
      FROM customer WHERE c_custkey % 5 <> 0
    ),
    d AS (
      SELECT COALESCE(o.key, n.key) AS key,
             CASE WHEN o.key IS NULL THEN 'added'
                  WHEN n.key IS NULL THEN 'removed'
                  WHEN o.bal = n.bal AND o.seg = n.seg THEN 'unchanged'
                  ELSE 'changed' END AS status
      FROM old_s o FULL OUTER JOIN new_s n ON o.key = n.key
    )
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(key) AS BIGINT) AS min_key,
           CAST(MAX(key) AS BIGINT) AS max_key
    FROM d GROUP BY status
    """,
)
def q153_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two table versions — the CDC/audit op a
    pipeline runs before publishing: full outer join on the key, each
    row classified added / removed / changed / unchanged by payload
    comparison. (Snapshots here are deterministic filtered/mutated
    views of `customer` so the oracle sees identical inputs; in
    production the two sides are different table versions.) One
    co-partitioned key join + a 4-row aggregate; the payload compare
    is column equality, so only keys and compared columns shuffle."""
    cu = load_table(spark, sf_dir, "customer")
    old_s = cu.filter(F.col("c_custkey") % 7 != 0).select(
        F.col("c_custkey").alias("key"),
        F.col("c_acctbal").cast("double").alias("bal"),
        F.col("c_mktsegment").alias("seg"),
    )
    new_s = cu.filter(F.col("c_custkey") % 5 != 0).select(
        F.col("c_custkey").alias("key"),
        (F.col("c_acctbal").cast("double") + (F.col("c_custkey") % 3)).alias("bal"),
        F.col("c_mktsegment").alias("seg"),
    )
    o = old_s.alias("o")
    n = new_s.alias("n")
    d = o.join(n, F.col("o.key") == F.col("n.key"), "full_outer").select(
        F.coalesce(F.col("o.key"), F.col("n.key")).alias("key"),
        F.when(F.col("o.key").isNull(), F.lit("added"))
        .when(F.col("n.key").isNull(), F.lit("removed"))
        .when(
            (F.col("o.bal") == F.col("n.bal")) & (F.col("o.seg") == F.col("n.seg")),
            F.lit("unchanged"),
        )
        .otherwise(F.lit("changed"))
        .alias("status"),
    )
    return d.groupBy("status").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("key").cast("bigint").alias("min_key"),
        F.max("key").cast("bigint").alias("max_key"),
    )


# --- A/B comparison (Welch z-score) -----------------------------------------


@register(
    "q154_abtest_zscore",
    """
    WITH g AS (
      SELECT event_type,
             user_id % 2 AS grp,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS s,
             CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS ss
      FROM events GROUP BY event_type, user_id % 2
    ),
    w AS (
      SELECT a.event_type,
             a.n AS n_a, b.n AS n_b,
             a.s / a.n AS mean_a, b.s / b.n AS mean_b,
             (a.ss - a.s * a.s / a.n) / (a.n - 1) AS var_a,
             (b.ss - b.s * b.s / b.n) / (b.n - 1) AS var_b
      FROM g a JOIN g b ON a.event_type = b.event_type
      -- n > 1 guard: a single-row group's (n-1) denominator is 0,
      -- where Spark yields NULL but DuckDB yields IEEE inf/nan
      WHERE a.grp = 0 AND b.grp = 1 AND a.n > 1 AND b.n > 1
    )
    SELECT event_type,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           ROUND(mean_a, 6) + 0.0 AS mean_a,
           ROUND(mean_b, 6) + 0.0 AS mean_b,
           ROUND((mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b), 6) + 0.0
             AS z_score
    FROM w
    """,
)
def q154_abtest_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Welch z-score per event type with users split A/B
    by key parity — the experiment-analysis primitive. ONE scan, one
    aggregate on (type, group): sums and sums-of-squares accumulate
    as exact decimals, so means/variances are deterministic doubles;
    the tiny per-group frame self-joins A×B (25 rows). Rounded
    outputs normalize -0.0 (subtraction-derived)."""
    e = load_table(spark, sf_dir, "events")
    g = (
        e.groupBy("event_type", (F.col("user_id") % 2).alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("s"),
            F.sum((F.col("value") * F.col("value")).cast("decimal(38,6)"))
            .cast("double")
            .alias("ss"),
        )
    )
    a = g.filter(F.col("grp") == 0).select(
        "event_type",
        F.col("n").alias("n_a"),
        F.col("s").alias("s_a"),
        F.col("ss").alias("ss_a"),
    )
    b = g.filter(F.col("grp") == 1).select(
        "event_type",
        F.col("n").alias("n_b"),
        F.col("s").alias("s_b"),
        F.col("ss").alias("ss_b"),
    )
    # n > 1 guard: Spark returns NULL for the zero (n-1) divisor,
    # DuckDB returns IEEE inf/nan — exclude degenerate groups on both
    j = a.join(b, "event_type").filter((F.col("n_a") > 1) & (F.col("n_b") > 1))
    mean_a = F.col("s_a") / F.col("n_a")
    mean_b = F.col("s_b") / F.col("n_b")
    var_a = (F.col("ss_a") - F.col("s_a") * F.col("s_a") / F.col("n_a")) / (
        F.col("n_a") - 1
    )
    var_b = (F.col("ss_b") - F.col("s_b") * F.col("s_b") / F.col("n_b")) / (
        F.col("n_b") - 1
    )
    z = (mean_a - mean_b) / F.sqrt(var_a / F.col("n_a") + var_b / F.col("n_b"))
    return j.select(
        "event_type",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        (F.round(mean_a, 6) + F.lit(0.0)).alias("mean_a"),
        (F.round(mean_b, 6) + F.lit(0.0)).alias("mean_b"),
        (F.round(z, 6) + F.lit(0.0)).alias("z_score"),
    )


# --- categorical column entropy ---------------------------------------------


@register(
    "q155_column_entropy",
    """
    WITH u AS (
      SELECT 'lang' AS col, lang AS val FROM documents
      UNION ALL
      SELECT 'source' AS col, source AS val FROM documents
      UNION ALL
      SELECT 'event_type' AS col, event_type AS val FROM events
    ),
    c AS (SELECT col, val, COUNT(*) AS n FROM u GROUP BY col, val),
    t AS (SELECT col, SUM(n) AS tot FROM c GROUP BY col)
    SELECT c.col,
           CAST(COUNT(*) AS BIGINT) AS n_values,
           ROUND(CAST(SUM(CAST(ROUND(
             -(c.n / t.tot) * ln(c.n / t.tot), 9)
             AS DECIMAL(28,12))) AS DOUBLE), 9) + 0.0 AS entropy_nats
    FROM c JOIN t ON c.col = t.col
    GROUP BY c.col
    """,
)
def q155_column_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of categorical columns across tables — the
    profiling signal for cardinality skew (a near-zero-entropy
     'language' column means one value dominates). Unpivoted column
    values aggregate once per (col, value); each -p·ln(p) term rounds
    to 9 digits then decimal-sums (the q134/q140 exactness pattern).
    The unpivot union is column-pruned: each branch scans ONLY its
    one source column."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "events")
    u = (
        d.select(F.lit("lang").alias("col"), F.col("lang").alias("val"))
        .unionByName(
            d.select(F.lit("source").alias("col"), F.col("source").alias("val"))
        )
        .unionByName(
            e.select(
                F.lit("event_type").alias("col"), F.col("event_type").alias("val")
            )
        )
    )
    c = u.groupBy("col", "val").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("col").agg(F.sum("n").alias("tot"))
    p = F.col("n").cast("double") / F.col("tot").cast("double")
    term = F.round(-p * F.log(p), 9).cast("decimal(28,12)")
    return (
        c.join(F.broadcast(t), "col")
        .groupBy("col")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_values"),
            (F.round(F.sum(term).cast("double"), 9) + F.lit(0.0)).alias(
                "entropy_nats"
            ),
        )
    )


# --- composite quality-gate verdict -----------------------------------------


@register(
    "q156_quality_verdict",
    """
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
    q AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             (length(text) - (len(toks) - 1)) / len(toks) AS avg_token_len,
             len(list_filter(toks, x -> x IN ('the','a','and','of','to','in')))
               / len(toks) AS stopword_ratio
      FROM t
    )
    SELECT doc_id, n_tokens,
           CASE WHEN n_tokens < 20 THEN 'too_short;' ELSE '' END
           || CASE WHEN stopword_ratio > 0.5 THEN 'stopword_heavy;' ELSE '' END
           || CASE WHEN avg_token_len < 3 OR avg_token_len > 8
                   THEN 'token_len;' ELSE '' END AS reasons,
           n_tokens >= 20 AND stopword_ratio <= 0.5
             AND avg_token_len >= 3 AND avg_token_len <= 8 AS keep
    FROM q
    """,
)
def q156_quality_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality VERDICT with machine-readable reasons —
    what q38's aggregate filter looks like as a production gate: the
    pipeline keeps the verdict column (auditable, re-filterable)
    instead of silently dropping rows. Same one-scan zero-shuffle
    signal computation (`textops.quality_features`); the reasons
    string concatenates failed rules in a fixed order so it is
    hash-stable across engines."""
    from patientdataintegration_spark.operators.textops import quality_features

    d = load_table(spark, sf_dir, "documents")
    q = quality_features(d)
    r_short = F.when(F.col("n_tokens") < 20, F.lit("too_short;")).otherwise(F.lit(""))
    r_stop = F.when(F.col("stopword_ratio") > 0.5, F.lit("stopword_heavy;")).otherwise(
        F.lit("")
    )
    r_len = F.when(
        (F.col("avg_token_len") < 3) | (F.col("avg_token_len") > 8),
        F.lit("token_len;"),
    ).otherwise(F.lit(""))
    keep = (
        (F.col("n_tokens") >= 20)
        & (F.col("stopword_ratio") <= 0.5)
        & (F.col("avg_token_len") >= 3)
        & (F.col("avg_token_len") <= 8)
    )
    return q.select(
        "doc_id",
        "n_tokens",
        F.concat(r_short, r_stop, r_len).alias("reasons"),
        keep.alias("keep"),
    )


# --- semantic dedup (cluster -> canonicalize) --------------------------------


def _q157_sql() -> str:
    from patientdataintegration_spark.suite.ext import _q132_sql

    return f"""
    WITH assign AS (SELECT * FROM ({_q132_sql()}) t)
    SELECT cluster,
           CAST(COUNT(*) AS BIGINT) AS size,
           CAST(MIN(vec_id) AS BIGINT) AS canonical_id,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_removable
    FROM assign GROUP BY cluster
    """


@register("q157_semantic_dedup", _q157_sql())
def q157_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup report: deterministic k-means over the
    embedding space (q132's operator) → one canonical vector per
    cluster (min id) + removable counts — the cluster-then-
    canonicalize stage of embedding-level dedup, composed from the
    clustering operator plus one tiny aggregate. The oracle nests
    q132's unrolled-CTE kmeans inside a subquery, so both engines
    assign identical clusters before the rollup."""
    from patientdataintegration_spark.operators.clustering import kmeans_assign

    e = load_table(spark, sf_dir, "embeddings")
    a = kmeans_assign(e, k=8, iterations=2)
    return a.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("size"),
        F.min("vec_id").cast("bigint").alias("canonical_id"),
        (F.count(F.lit(1)) - 1).cast("bigint").alias("n_removable"),
    )


# --- univariate split screening (decision-stump search) ---------------------

_Q158_FEATURES = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
_Q158_CUTS = 7  # equi-width candidate thresholds per feature


def _q158_sql() -> str:
    unpivot = "\n      UNION ALL ".join(
        f"SELECT '{c}' AS feature, CAST({c} AS DOUBLE) AS x,"
        f" CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y FROM lineitem"
        for c in _Q158_FEATURES
    )
    ent = (
        "CASE WHEN {p} <= 0 OR {p} >= 1 THEN 0.0 "
        "ELSE -({p}) * ln({p}) - (1 - ({p})) * ln(1 - ({p})) END"
    )
    p_all = "CAST(pos_le + pos_gt AS DOUBLE) / (n_le + n_gt)"
    p_le = "CAST(pos_le AS DOUBLE) / n_le"
    p_gt = "CAST(pos_gt AS DOUBLE) / n_gt"
    return f"""
    WITH u AS ({unpivot}),
    b AS (SELECT feature, MIN(x) AS lo, MAX(x) AS hi FROM u GROUP BY feature),
    t AS (
      SELECT b.feature, b.lo + k.i * (b.hi - b.lo) / {_Q158_CUTS + 1} AS thr
      FROM b CROSS JOIN range(1, {_Q158_CUTS + 1}) k(i)
    ),
    agg AS (
      SELECT u.feature, t.thr,
             COUNT(*) FILTER (WHERE u.x <= t.thr) AS n_le,
             SUM(u.y) FILTER (WHERE u.x <= t.thr) AS pos_le,
             COUNT(*) FILTER (WHERE u.x > t.thr) AS n_gt,
             SUM(u.y) FILTER (WHERE u.x > t.thr) AS pos_gt
      FROM u JOIN t ON u.feature = t.feature
      GROUP BY u.feature, t.thr
    ),
    g AS (
      SELECT feature, thr, n_le, n_gt,
             ROUND({ent.format(p=p_all)}
                   - (CAST(n_le AS DOUBLE) / (n_le + n_gt)) * {ent.format(p=p_le)}
                   - (CAST(n_gt AS DOUBLE) / (n_le + n_gt)) * {ent.format(p=p_gt)},
                   9) + 0.0 AS gain
      FROM agg WHERE n_le > 0 AND n_gt > 0
    ),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY feature
                                   ORDER BY gain DESC, thr ASC) AS rn
      FROM g
    )
    SELECT feature, ROUND(thr, 6) + 0.0 AS threshold,
           CAST(n_le AS BIGINT) AS n_le, CAST(n_gt AS BIGINT) AS n_gt, gain
    FROM r WHERE rn = 1
    """


@register("q158_best_split", _q158_sql())
def q158_best_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best univariate split per feature by information gain — the
    decision-stump search (feature screening, the deterministic
    SQL-native cousin of the q94 random-forest lane; reference
    analogue: the notebook's feature-importance analysis). Candidate
    thresholds are 7 equi-width cuts from each feature's
    broadcast min/max (IEEE-exact arithmetic), labels are the binary
    return flag; ONE unpivot scan per feature feeds a (feature, thr)
    conditional aggregation (28 cells, map-side partialed), and
    entropies are deterministic doubles from identical integer
    counts, so gains hash-match cross-engine after rounding."""
    li = load_table(spark, sf_dir, "lineitem")
    u = None
    for c in _Q158_FEATURES:
        part = li.select(
            F.lit(c).alias("feature"),
            F.col(c).cast("double").alias("x"),
            F.when(F.col("l_returnflag") == "R", F.lit(1))
            .otherwise(F.lit(0))
            .alias("y"),
        )
        u = part if u is None else u.unionByName(part)
    b = u.groupBy("feature").agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    ks = spark.range(1, _Q158_CUTS + 1).select(F.col("id").alias("i"))
    t = b.crossJoin(F.broadcast(ks)).select(
        "feature",
        (
            F.col("lo")
            + F.col("i") * (F.col("hi") - F.col("lo")) / F.lit(_Q158_CUTS + 1)
        ).alias("thr"),
    )
    agg = (
        u.join(F.broadcast(t), "feature")
        .groupBy("feature", "thr")
        .agg(
            F.count(F.when(F.col("x") <= F.col("thr"), 1)).alias("n_le"),
            F.sum(F.when(F.col("x") <= F.col("thr"), F.col("y"))).alias("pos_le"),
            F.count(F.when(F.col("x") > F.col("thr"), 1)).alias("n_gt"),
            F.sum(F.when(F.col("x") > F.col("thr"), F.col("y"))).alias("pos_gt"),
        )
        .filter((F.col("n_le") > 0) & (F.col("n_gt") > 0))
    )

    def ent(p):
        return F.when((p <= 0) | (p >= 1), F.lit(0.0)).otherwise(
            -p * F.log(p) - (1 - p) * F.log(1 - p)
        )

    n = (F.col("n_le") + F.col("n_gt")).cast("double")
    p_all = (F.col("pos_le") + F.col("pos_gt")).cast("double") / n
    p_le = F.col("pos_le").cast("double") / F.col("n_le").cast("double")
    p_gt = F.col("pos_gt").cast("double") / F.col("n_gt").cast("double")
    gain = (
        ent(p_all)
        - (F.col("n_le").cast("double") / n) * ent(p_le)
        - (F.col("n_gt").cast("double") / n) * ent(p_gt)
    )
    g = agg.select(
        "feature",
        "thr",
        "n_le",
        "n_gt",
        (F.round(gain, 9) + F.lit(0.0)).alias("gain"),
    )
    w = Window.partitionBy("feature").orderBy(F.col("gain").desc(), F.col("thr").asc())
    return (
        g.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "feature",
            (F.round(F.col("thr"), 6) + F.lit(0.0)).alias("threshold"),
            F.col("n_le").cast("bigint").alias("n_le"),
            F.col("n_gt").cast("bigint").alias("n_gt"),
            "gain",
        )
    )


# --- XML interchange roundtrip ----------------------------------------------


@register(
    "q159_xml_roundtrip",
    """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(length(text)) AS BIGINT) AS total_text_len,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
    FROM documents GROUP BY source
    """,
)
def q159_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus → XML shards (Spark 4 native `xml` source) →
    schema-enforced quarantine read-back → per-source audit aggregate.
    The oracle computes the SAME aggregate straight from the parquet,
    so a green row proves the XML emit+ingest is lossless — including
    text payloads through entity escaping (total_text_len rides the
    read-back text, not the stored n_chars). The q107 JSONL pattern
    applied to the enterprise-interchange format."""
    import tempfile

    from patientdataintegration_spark.sources.xml_io import (
        healthy,
        read_xml,
        write_xml,
    )

    d = load_table(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="pdi_q159_xml_") + "/docs"
    write_xml(d, path, n_files=4)
    back = healthy(read_xml(spark, path, schema=d.schema))
    return back.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum(F.length("text")).cast("bigint").alias("total_text_len"),
        F.min("doc_id").cast("bigint").alias("min_doc_id"),
        F.max("doc_id").cast("bigint").alias("max_doc_id"),
    )
