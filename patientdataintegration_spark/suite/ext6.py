"""Round-8 batch 2: auditable streaming state (q236 — the state-store
introspection lane the r6/r7 verdicts queued), mergeable sketches
(q237 HLL rollup, q238 Theta set algebra, q239 distributed
approx-top-k), Bloom-prefiltered incremental dedup (q240), and
incremental COUNT-DISTINCT maintenance via persisted HLL state
(q241 — the aggregate q114's exact rollup store cannot merge).

Scale stance (100 TB): every addition here is a bounded-state
pattern — the state-store audit's cost is sink + watermark horizon
(independent of history length); the sketch lanes reduce arbitrary
fact volume to kilobytes of associative, rollup-able state with NO
re-scan for coarser grains; the Bloom lane turns an O(delta)
anti-join shuffle into O(dups + 1%·delta) behind a broadcastable
bitmap. Nothing collects to the driver; no Python UDFs (the sketches
are Spark 4's built-in DataSketches JVM aggregates).

Exactness contract (suite/core.py rules): streaming sums ride the
proven q37/q90 DECIMAL spelling; sketch ESTIMATES never reach the
output raw — only integer-exact tolerance verdicts do (the q224/q232
verdict-oracle pattern), computed as |est−exact|·100 <= exact·pct in
pure integer arithmetic; q239 runs the sketch in its exact regime
(distinct values < max_items_tracked) so counts ARE the group-by;
q240's result is bit-identical to the plain anti-join by Bloom's
no-false-negative guarantee, so its oracle is q117's NOT EXISTS.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from patientdataintegration_spark.sources.catalog import load_table
from patientdataintegration_spark.suite.registry import register


# --- streaming state-store introspection ------------------------------------


@register(
    "q236_statestore_audit",
    """
    WITH agg AS (
      SELECT CAST(FLOOR(epoch(ts) / 300) AS BIGINT) * 300 AS bucket,
             event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events
      GROUP BY bucket, event_type
    ),
    wm AS (
      SELECT epoch_us(MAX(ts)) // 1000 - 3600000 AS wm_ms FROM events
    )
    SELECT a.bucket, a.event_type, a.n, a.sum_value,
           CASE WHEN (a.bucket + 300) * 1000 <= w.wm_ms
                THEN 'emitted' ELSE 'state' END AS origin
    FROM agg a, wm w
    """,
)
def q236_statestore_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store introspection (`streaming/statestore.py` — the
    r6/r7 verdicts' queued lane): drain the tumbling aggregation in
    APPEND mode against a checkpoint, then read the checkpoint back
    with `spark.read.format("statestore")` and union the live
    aggregation buffers (origin='state') with the sink
    (origin='emitted'). The union reconstructs the batch aggregate
    EXACTLY — the audit a pipeline runs before trusting a streaming
    rollup — and the oracle replays both halves portably: the batch
    aggregate split by the eviction frontier, watermark tracked in
    MILLISECONDS (ms-floored max event time − 60 min) with windows
    emitted when `end <= watermark` (calibrated incl. the boundary
    tie by tests/test_statestore_audit.py; the q223 discipline).
    Scale: state volume is watermark-horizon-bounded and the state
    source reads store files partition-parallel — audit cost is
    sink + horizon, independent of history length. Exactness: the
    state buffer holds the same exact DECIMAL accumulator the sink
    cast came from, so both origins hash bit-identically under the
    proven q37/q90 sum spelling."""
    from patientdataintegration_spark.streaming.statestore import statestore_audit

    return statestore_audit(spark, sf_dir, table_name="q236_emitted")


# --- mergeable sketches ------------------------------------------------------


@register(
    "q237_hll_distinct_rollup",
    """
    SELECT 'group' AS grain,
           strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS bucket,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact,
           TRUE AS within_tol
    FROM orders
    GROUP BY strftime(CAST(o_orderdate AS DATE), '%Y-%m')
    UNION ALL
    SELECT 'all', 'ALL', CAST(COUNT(DISTINCT o_custkey) AS BIGINT), TRUE
    FROM orders
    """,
)
def q237_hll_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct customers per order-month via HLL sketches
    (`operators/sketches.hll_rollup`) with a union rollup to the
    grand total — the mergeable-state pattern: per-month sketches
    are kilobytes, and the 'ALL' row re-aggregates SKETCHES
    (hll_union_agg), not the fact table, so every coarser grain at
    100 TB is a metadata-sized job. The verdict-oracle pattern
    (q224/q232): estimates don't reach the output — integer-exact
    10% tolerance booleans do, pinned TRUE by the oracle next to the
    exact counts. Determinism: HLL hashing is fixed-seed and merge
    is order-independent, so the estimate is a pure function of the
    data — the gate result is a replay, not a draw. Measured worst
    deviation across the 81 output rows: 0.0% at sf0.001 (sparse
    regime, exact), 0.6% at sf0.01, 3.6% at sf0.1 (dense mode,
    σ≈1.6% for the default lgK=12); the 10% bound is ≈6σ and 2.8x
    the observed worst. Exact twins (count_distinct) ride alongside
    only to grade the sketch."""
    from patientdataintegration_spark.operators.sketches import hll_rollup

    o = load_table(spark, sf_dir, "orders").select(
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM").alias("m"),
        "o_custkey",
    )
    return hll_rollup(o, "m", "o_custkey", tol_pct=10)


@register(
    "q238_theta_set_algebra",
    """
    WITH a AS (SELECT DISTINCT o_custkey AS v FROM orders
               WHERE EXTRACT(year FROM o_orderdate) = 1996),
         b AS (SELECT DISTINCT o_custkey AS v FROM orders
               WHERE EXTRACT(year FROM o_orderdate) = 1997)
    SELECT 'a' AS measure,
           CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS n_exact,
           TRUE AS within_tol
    UNION ALL
    SELECT 'b', CAST((SELECT COUNT(*) FROM b) AS BIGINT), TRUE
    UNION ALL
    SELECT 'union', CAST((SELECT COUNT(*) FROM
      (SELECT v FROM a UNION SELECT v FROM b)) AS BIGINT), TRUE
    UNION ALL
    SELECT 'inter', CAST((SELECT COUNT(*) FROM
      (SELECT v FROM a INTERSECT SELECT v FROM b)) AS BIGINT), TRUE
    UNION ALL
    SELECT 'diff', CAST((SELECT COUNT(*) FROM
      (SELECT v FROM a EXCEPT SELECT v FROM b)) AS BIGINT), TRUE
    """,
)
def q238_theta_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-set algebra across two corpora via Theta sketches
    (`operators/sketches.theta_set_cardinalities`): customers active
    in 1996 vs 1997 — |A|, |B|, |A∪B|, |A∩B|, |A\\B| estimated from
    TWO single-pass sketches that compose on their state
    (theta_union/intersection/difference), the question HLL cannot
    answer and the shape of cross-corpus decontamination
    cardinality at 100 TB: two scans total, no membership join. The
    exact twins use a full-outer membership join at test scale; the
    verdict-oracle pattern pins integer-exact 10% tolerance booleans
    TRUE. Determinism: fixed-seed hashing, order-independent merges,
    estimate a pure function of the data. Below the 4096 nominal
    entries the sketch retains every hash and estimates are EXACT —
    measured: 0.0% deviation at sf0.001/sf0.01 (sets of 121–1419
    keys), worst 0.92% at sf0.1 (sets of ~2.5k–14.3k keys, sampled
    regime)."""
    from patientdataintegration_spark.operators.sketches import (
        theta_set_cardinalities,
    )

    o = load_table(spark, sf_dir, "orders").select(
        F.year(F.col("o_orderdate").cast("date")).alias("y"), "o_custkey"
    )
    return theta_set_cardinalities(
        o.filter(F.col("y") == 1996),
        o.filter(F.col("y") == 1997),
        "o_custkey",
        tol_pct=10,
    )


@register(
    "q239_sharded_topk_brands",
    """
    SELECT p_brand AS item, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM part
    GROUP BY p_brand
    """,
)
def q239_sharded_topk_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via the distributed approx_top_k protocol
    (`operators/sketches.sharded_top_k`): per-shard
    approx_top_k_accumulate state, associative approx_top_k_combine
    merge, estimate extraction — the tree-reduce shape whose
    per-shard state is bounded (max_items_tracked entries) no matter
    the shard's row count. Run in the sketch's EXACT regime
    (25 distinct brands << 1000 tracked, k=25 so membership is the
    full domain and count ties cannot perturb it) — the result IS
    the group-by, so the oracle is the plain GROUP BY COUNT: a full
    hash check of the accumulate/combine/estimate plumbing. The
    approximate regime (tracked < distinct) is pytest-bounded
    instead (tests/test_sketches.py: guaranteed recall of
    sufficiently-heavy hitters)."""
    from patientdataintegration_spark.operators.sketches import sharded_top_k

    p = load_table(spark, sf_dir, "part")
    return sharded_top_k(
        p, "p_brand", F.col("p_partkey") % 32, k=25, max_items_tracked=1000
    )


# --- Bloom-prefiltered incremental dedup -------------------------------------


@register(
    "q240_bloom_incremental_dedup",
    r"""
    WITH fp AS (
      SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
      FROM documents
    ),
    hist AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 10 < 7),
    delta AS (SELECT * FROM fp WHERE doc_id % 10 >= 7)
    SELECT fingerprint,
           CAST(MIN(doc_id) AS BIGINT) AS canonical_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM delta d
    WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE h.fingerprint = d.fingerprint)
    GROUP BY fingerprint
    """,
)
def q240_bloom_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q117's daily-crawl dedup with the Bloom fast path
    (`operators/bloomfilter.bloom_prefiltered_antijoin`): the
    history's fingerprint store compresses to a broadcast (word,
    bits) bitmap (2^20 bits, k=2 → ~1% fp at this store size); map
    tasks discard definitely-new delta rows BEFORE the shuffle, so
    only true duplicates plus the fp sliver reach the exact
    anti-join — shuffle volume O(dups + 1%·delta) instead of
    O(delta), the difference at 100 TB where most of every crawl is
    new. Result bit-identical to the plain anti-join (no false
    negatives), so the oracle is q117's NOT EXISTS verbatim and the
    driver hash proves the optimization is semantics-preserving;
    tests/test_bloomfilter.py additionally pins the reduction ratio
    and the bitmap's broadcastability."""
    from patientdataintegration_spark.operators.bloomfilter import (
        bloom_prefiltered_antijoin,
    )
    from patientdataintegration_spark.operators.textops import fingerprint

    d = load_table(spark, sf_dir, "documents")
    fp = fingerprint(d)
    hist = (
        fp.filter(F.col("doc_id") % 10 < 7).select("fingerprint").distinct()
    )
    delta = fp.filter(F.col("doc_id") % 10 >= 7).select("doc_id", "fingerprint")
    fresh = bloom_prefiltered_antijoin(delta, hist, "fingerprint")
    return fresh.groupBy("fingerprint").agg(
        F.min("doc_id").cast("bigint").alias("canonical_id"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )


# --- incremental DISTINCT maintenance (sketch-state store) ------------------


@register(
    "q241_incremental_distinct",
    """
    SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS bucket,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact,
           TRUE AS within_tol
    FROM orders
    GROUP BY strftime(CAST(o_orderdate AS DATE), '%Y-%m')
    """,
)
def q241_incremental_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental COUNT DISTINCT maintenance (`operators/
    incremental.distinct_sketch_state`): 70% of orders plays the
    persisted per-month HLL state table (q114's daily-rollup split),
    the rest is today's delta — the merged estimate comes from
    `hll_union_agg` over the two state tables, NO history re-scan.
    Distinct is the one everyday aggregate whose exact state doesn't
    merge; the sketch substitute costs nothing in accuracy vs a full
    rebuild because a union of HLL sketches over a partition of the
    data has IDENTICAL registers to one flat sketch (pinned by
    pytest), so this lane's estimates equal q237's and the same
    measured deviations apply (worst 3.6% at sf0.1; 10% verdict
    bound). Scale: state is kilobytes per key; the merge shuffles
    O(#keys) binary sketches, independent of data volume. The
    verdict-oracle pattern pins exact counts + TRUE booleans."""
    from patientdataintegration_spark.operators.incremental import (
        distinct_readout,
        distinct_sketch_state,
        merge_distinct_states,
    )

    o = load_table(spark, sf_dir, "orders").select(
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM").alias(
            "bucket"
        ),
        "o_custkey",
        "o_orderkey",
    )
    hist = o.filter(F.col("o_orderkey") % 10 < 7)
    delta = o.filter(F.col("o_orderkey") % 10 >= 7)
    state = merge_distinct_states(
        [
            distinct_sketch_state(hist, ["bucket"], "o_custkey"),
            distinct_sketch_state(delta, ["bucket"], "o_custkey"),
        ],
        ["bucket"],
    )
    est = distinct_readout(state, ["bucket"])
    exact = o.groupBy("bucket").agg(
        F.count_distinct("o_custkey").cast("bigint").alias("n_exact")
    )
    return exact.join(est, "bucket").select(
        "bucket",
        "n_exact",
        ((F.abs(F.col("n_distinct_est") - F.col("n_exact")) * 100)
         <= (F.col("n_exact") * 10)).alias("within_tol"),
    )


# --- round-8 batch 3: exact bitmap distinct, join-view deltas, CMS ----------


@register(
    "q242_join_view_maintenance",
    """
    SELECT c_mktsegment,
           strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment, strftime(CAST(o_orderdate AS DATE), '%Y-%m')
    """,
)
def q242_join_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance (`operators/incremental.
    maintain_join_view`): the enriched-orders view J = orders ⋈
    customer kept current under inserts by the delta algebra
    ΔJ = (ΔA⋈B_old) ∪ (A_old⋈ΔB) ∪ (ΔA⋈ΔB) — 2% of orders and ~6%
    of customers play the day's deltas; the maintained view then
    rolls up to (mktsegment, month) counts + DECIMAL-exact price
    sums. The oracle is the FULL re-join: the driver hash proves the
    delta-maintained view is bit-identical to recomputation, which
    is the entire point — at 100 TB the recompute is a
    fact×dimension shuffle nightly, while ΔJ broadcasts the deltas
    against partitioned scans of the stored tables (three map-side
    joins, zero large shuffles; the branches are disjoint origin
    classes, so a plain append — no dedup — is exact). Insert-only
    fast path; updates/deletes ride the q180 CDC merge lane.
    Exactness: money sums ride DECIMAL(18,6); branch order cannot
    matter because decimal addition is order-independent."""
    from patientdataintegration_spark.operators.incremental import (
        maintain_join_view,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM").alias(
            "month"
        ),
        "o_totalprice",
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    a_old = o.filter(F.col("o_orderkey") % 50 != 0)
    delta_a = o.filter(F.col("o_orderkey") % 50 == 0)
    b_old = c.filter(F.col("o_custkey") % 17 != 0)
    delta_b = c.filter(F.col("o_custkey") % 17 == 0)
    view_old = a_old.join(b_old, ["o_custkey"])  # stands for the stored view
    view = maintain_join_view(
        view_old, a_old, delta_a, b_old, delta_b, ["o_custkey"]
    )
    return view.groupBy("c_mktsegment", "month").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_price"),
    )


@register(
    "q243_bitmap_exact_distinct",
    """
    SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS bucket,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct
    FROM orders
    GROUP BY strftime(CAST(o_orderdate AS DATE), '%Y-%m')
    """,
)
def q243_bitmap_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT incremental COUNT DISTINCT via mergeable bitmap state
    (`operators/incremental.distinct_bitmap_state`) — the third
    member of the distinct-maintenance family: q114's exact rollup
    store cannot merge distincts at all, q241's HLL state merges but
    estimates; integer-keyed domains get both via Spark's bitmap
    functions — per-(month, 32768-bit bucket) bitmaps, merged across
    the hist/delta slices by bitwise OR (associative AND idempotent:
    replaying a slice is harmless, unlike additive states), popcount
    readout. The driver hash against plain COUNT(DISTINCT) proves
    bit-exactness — no tolerance verdict needed. Scale: state is
    value-RANGE-proportional (4 KiB per occupied bucket per key,
    ~18 KiB/month at sf0.1), merge shuffles only state rows; the
    slice aggregations are the only full-data scans."""
    from patientdataintegration_spark.operators.incremental import (
        bitmap_distinct_readout,
        distinct_bitmap_state,
        merge_bitmap_states,
    )

    o = load_table(spark, sf_dir, "orders").select(
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM").alias(
            "bucket"
        ),
        "o_custkey",
        "o_orderkey",
    )
    hist = o.filter(F.col("o_orderkey") % 10 < 7)
    delta = o.filter(F.col("o_orderkey") % 10 >= 7)
    state = merge_bitmap_states(
        [
            distinct_bitmap_state(hist, ["bucket"], "o_custkey"),
            distinct_bitmap_state(delta, ["bucket"], "o_custkey"),
        ],
        ["bucket"],
    )
    return bitmap_distinct_readout(state, ["bucket"])


@register(
    "q244_cms_brand_frequencies",
    """
    SELECT p_brand AS item,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           TRUE AS no_underestimate,
           TRUE AS within_bound
    FROM part
    GROUP BY p_brand
    """,
)
def q244_cms_brand_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch point frequencies (`operators/cms.py` — the
    sketch Spark aggregates but gives no SQL query surface for,
    re-expressed as a d×w counter RELATION built/merged/queried with
    built-in aggregates only): brand frequencies estimated from a
    4×1024 counter table (32 KiB of state REGARDLESS of fact volume),
    built as two slice sketches and counter-wise SUM-merged
    (associative — the q114/q241/q243 state discipline, now for
    frequencies). The verdict-oracle pattern pins the two CMS
    invariants in integer arithmetic: NO UNDERESTIMATE (est >= exact,
    unconditional — collisions only add) and the measured-and-bounded
    overestimate excess·width <= 3·N (3× the per-row Markov bound;
    with depth 4 and 25 items into 1024 buckets the fixed-seed
    estimates are collision-free and exact at all three test SFs —
    the bound is headroom, not slack in use). Scale: build is one
    map-side-combined agg (explode ×4 inflates map rows, never the
    shuffle, which carries only occupied counters); query broadcasts
    the 32 KiB state under the items."""
    from patientdataintegration_spark.operators.cms import (
        cms_build,
        cms_merge,
        cms_query,
    )

    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    slice_a = p.filter(F.col("p_partkey") % 2 == 0)
    slice_b = p.filter(F.col("p_partkey") % 2 == 1)
    state = cms_merge(
        [cms_build(slice_a, "p_brand"), cms_build(slice_b, "p_brand")]
    )
    exact = p.groupBy(F.col("p_brand").alias("item")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact")
    )
    est = cms_query(state, exact, "item")
    total = p.agg(F.count(F.lit(1)).alias("n_total"))
    return est.crossJoin(F.broadcast(total)).select(
        "item",
        "n_exact",
        (F.col("cms_est") >= F.col("n_exact")).alias("no_underestimate"),
        (
            (F.col("cms_est") - F.col("n_exact")) * 1024
            <= F.col("n_total") * 3
        ).alias("within_bound"),
    )
