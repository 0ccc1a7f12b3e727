"""Round-10 additions: closing the maintenance family's remaining
gaps — late data (q256), updates (q257), advisor→executor wiring
(q258), maintained top-k under inserts (q259) and deletes (q262),
domain-drift-auditable histogram state (q260), exact MONEY moments
(q261, lifting q254's integer-measure restriction by quantizing to
the grain), a maintained LSH near-dup pair view (q263), the
iterative BPE merge trainer (q264) and its apply half (q267),
group-algebra histogram retractions chained through the quantile
readout (q265), and rollup maintenance under paired-CDC UPDATES
(q266).

Scale stance (100 TB): q256 re-coalesces ONLY delta-active users'
session hulls (no raw-history scan — the hull lemma on
`operators/sessionize.sessionize_repair_late`); q257's update path
is two broadcast probes + one broadcast join against a partitioned
view scan (never a view recompute); q258 derives the salt factor
from a kilobyte profile relation at plan time (the q252
frozen-readout discipline) so the hot key spreads before AQE ever
sees it; q259/q262's top-k state keeps k rows per key — merge is a
re-rank of unions, deletes repair dirty keys only; q260 adds
underflow/overflow counts to the q255 histogram state so a
domain-drift day is detectable from the state itself; q263's
nightly cost is banding the DELTA against a persisted banded-key
store; q264 reduces the corpus once to its vocabulary and iterates
vocab-sized.

Exactness contract (suite/core.py rules): money sums ride
DECIMAL(18,6); counts/ranks are integers; q259/q262 ship raw
doubles (passed through, never recomputed); q260/q264 are pure
integer counting; q261 is exact integer arithmetic after a
floor(x×scale + 0.5) grain both engines compute bit-identically,
with its 128-bit variance numerator shipped as a digit string (the
q234 discipline)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from patientdataintegration_spark.sources.catalog import load_table
from patientdataintegration_spark.suite.registry import register


# --- late-data session repair ---------------------------------------------------


@register(
    "q256_sessionize_late_repair",
    """
    WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
    l AS (
      SELECT user_id, event_id, us,
             lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us
      FROM e
    ),
    t AS (
      SELECT user_id, event_id, us,
             CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_s
      FROM l
    ),
    s AS (
      SELECT user_id, us,
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM t
    )
    SELECT user_id, MIN(us) AS start_us, MAX(us) AS end_us,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, session_id
    """,
)
def q256_sessionize_late_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data-COMPLETE session maintenance (`operators/sessionize.
    sessionize_repair_late`) — the repair path q249's fast-path guard
    points genuinely late feeds at (the r9 verdict's item 4 stretch).
    The delta here is an ARBITRARY slice (every 13th event_id —
    scattered across all of time, so events land before, inside, and
    between the materialized sessions); the maintained table
    re-coalesces only delta-active users' session HULLS with the
    late points, exact by the hull lemma (a session's points and its
    hull interval gap-coalesce identically — see the operator
    docstring; random-split property test in tests/test_properties.
    py). The oracle is FULL re-sessionization of all events, so the
    driver hash proves repair == recompute even when a late event
    BRIDGES two previously-separate sessions. Scale: untouched users
    pass through via one broadcast anti-join; touched users shuffle
    one interval per old session plus the delta — never raw history.
    Integer microsecond payloads — hash-exact by construction."""
    from patientdataintegration_spark.operators.sessionize import (
        sessionize,
        sessionize_repair_late,
    )

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", F.unix_micros("ts").alias("us")
    )
    on_time = e.filter(F.col("event_id") % 13 != 0)
    late = e.filter(F.col("event_id") % 13 == 0).select("user_id", "us")
    sessions_old = sessionize(on_time, gap_seconds=1800).select(
        "user_id", "start_us", "end_us", "n_events"
    )
    return sessionize_repair_late(sessions_old, late, gap_seconds=1800)


# --- join-view maintenance under UPDATES (upsert CDC) ---------------------------


@register(
    "q257_join_view_updates",
    """
    WITH post AS (
      SELECT o_orderkey, o_custkey,
             strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
             CASE WHEN o_orderkey % 43 = 0 THEN o_totalprice + 10.0
                  ELSE o_totalprice END AS o_totalprice
      FROM orders
    )
    SELECT c_mktsegment, month,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_price
    FROM post JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment, month
    """,
)
def q257_join_view_updates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-view maintenance under UPDATES (`operators/incremental.
    upsert_join_view`) — the verb that completes CRUD for the
    maintained-view family (inserts q242, deletes q253, updates
    here): an upsert CDC slice on orders carries TWO versions of
    every 43rd order (seq 1: price+5, seq 2: price+10) plus a plain
    INSERT of every key ≡1 (mod 43) that the stored view has never
    seen; last-writer-wins per key (ORDER BY seq DESC — the q180 CDC
    total order) picks the winners, then J_new = (J_old anti-probe
    changed keys) ∪ (winners ⋈ customer). The oracle is the re-join
    over the post-CDC tables, so the driver hash proves
    update == delete+insert == recompute, including that the LOSING
    version (price+5) left no trace. Scale: the CDC slice broadcasts
    twice (key probe + winner join); the stored view is scanned
    partitioned, never re-joined, never exceptAll'd. Exactness:
    price+10.0 is ONE shared IEEE op over the same parquet double in
    both engines; sums ride DECIMAL(18,6)."""
    from patientdataintegration_spark.operators.incremental import (
        upsert_join_view,
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
    a_old = o.filter(F.col("o_orderkey") % 43 != 1)
    view_old = a_old.join(c, ["o_custkey"])  # stands for the stored view
    upd = o.filter(F.col("o_orderkey") % 43 == 0)
    cdc = (
        upd.withColumn("o_totalprice", F.col("o_totalprice") + F.lit(5.0))
        .withColumn("seq", F.lit(1))
        .unionByName(
            upd.withColumn(
                "o_totalprice", F.col("o_totalprice") + F.lit(10.0)
            ).withColumn("seq", F.lit(2))
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 43 == 1).withColumn(
                "seq", F.lit(1)
            )
        )
    )
    maintained = upsert_join_view(
        view_old, cdc, c, "o_orderkey", ["o_custkey"], seq_col="seq"
    )
    return maintained.groupBy("c_mktsegment", "month").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_price"),
    )


# --- advisor-driven salted join --------------------------------------------------


@register(
    "q258_profiled_salted_join",
    """
    WITH dim AS (
      SELECT DISTINCT event_type,
             upper(event_type) AS type_uc,
             CAST(length(event_type) AS BIGINT) AS type_len
      FROM events
    )
    SELECT e.event_type, d.type_uc, d.type_len,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events e JOIN dim d ON e.event_type = d.event_type
    GROUP BY e.event_type, d.type_uc, d.type_len
    """,
)
def q258_profiled_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Advisor→executor wiring (`operators/skew.profiled_salted_join`)
    — the r9 verdict's item 6: q251's skew advisor previously emitted
    salt factors that went nowhere; here its profile DERIVES n_salts
    for the salted join at plan time (one driver-side scalar readout
    of the ≤#keys profile relation — the q252 frozen-readout
    discipline). The join key is event_type — a handful of values
    owning ALL the rows, the worst shuffle-key skew shape: unsalted,
    P-32 reducers sit idle while ~5 drain everything; the advisor's
    ceil(cnt×P/total) spreads each type over its fair-share multiple
    (verified to actually spread in tests/test_plans.py). The small
    side is the derived type dimension, replicated n_salts× by the
    executor. Results are identical to the plain join BY CONSTRUCTION
    whatever the profile picks — exactly what the plain-SQL oracle
    checks; the decimal sum keeps the aggregate order-independent
    across the salted partitioning. Scale: profile = one map-side-
    combined count per key off yesterday's scan; the salted shuffle
    is the only data-proportional touch."""
    from patientdataintegration_spark.operators.skew import (
        profiled_salted_join,
    )

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    dim = (
        e.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.upper("event_type").alias("type_uc"),
            F.length("event_type").cast("bigint").alias("type_len"),
        )
    )
    j = profiled_salted_join(
        e,
        dim,
        on=["event_type"],
        salt_key_cols=["event_id"],
        num_partitions=32,
    )
    return j.groupBy("event_type", "type_uc", "type_len").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_value"),
    )


# --- maintained per-key top-k ----------------------------------------------------


@register(
    "q259_topk_state",
    """
    SELECT o_custkey, CAST(rk AS BIGINT) AS rank, o_orderkey, o_totalprice
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders
    )
    WHERE rk <= 3
    """,
)
def q259_topk_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintained per-key TOP-K (`operators/incremental.topk_state`)
    — the r9 verdict's stretch item 9, closing the one everyday
    aggregate family still without a maintained form: each customer's
    top-3 orders by price, kept as k-row-per-key state. 70% of orders
    plays the persisted state, the rest the delta; the merge is a
    re-rank of the two states' union, exact under insert-only growth
    because topk(A∪B) == topk(topk(A)∪topk(B)) (a winner in the
    union is a winner in its own slice a fortiori). The oracle is the
    plain window top-3 over the FULL table, so the driver hash proves
    maintenance == recompute — including price TIES, which the
    o_orderkey tiebreak totals identically in both engines (without a
    total order "the" top-k is ill-defined and maintenance could
    legitimately diverge). Prices pass through raw (never recomputed)
    — hash-exact. Scale: state is 3 rows per customer regardless of
    history; extraction plans as WindowGroupLimit (map-side k-row
    heaps — the q235 shape); the merge shuffles O(#keys × k)."""
    from patientdataintegration_spark.operators.incremental import (
        merge_topk,
        topk_readout,
        topk_state,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    hist = o.filter(F.col("o_orderkey") % 10 < 7)
    delta = o.filter(F.col("o_orderkey") % 10 >= 7)
    state = merge_topk(
        [
            topk_state(hist, ["o_custkey"], "o_totalprice", 3, "o_orderkey"),
            topk_state(delta, ["o_custkey"], "o_totalprice", 3, "o_orderkey"),
        ],
        ["o_custkey"],
        "o_totalprice",
        3,
        "o_orderkey",
    )
    return topk_readout(
        state, ["o_custkey"], "o_totalprice", "o_orderkey"
    ).select("o_custkey", "rank", "o_orderkey", "o_totalprice")


# --- domain-drift-auditable histogram state -------------------------------------

# A domain DELIBERATELY narrower than the data ([5000, 5000+64*1000)
# = [5000, 69000) vs l_extendedprice's real [900, 105000)) so both
# tails carry mass — the drift scenario the audit exists to catch.
_Q260_LO, _Q260_W, _Q260_B = 5000.0, 1000.0, 64


@register(
    "q260_histogram_domain_audit",
    f"""
    SELECT l_returnflag,
           CAST(COUNT(*) FILTER (WHERE l_extendedprice >= {_Q260_LO}
                AND l_extendedprice < {_Q260_LO + _Q260_W * _Q260_B})
                AS BIGINT) AS n_in,
           CAST(COUNT(*) FILTER (WHERE l_extendedprice < {_Q260_LO})
                AS BIGINT) AS n_under,
           CAST(COUNT(*) FILTER (WHERE l_extendedprice >=
                {_Q260_LO + _Q260_W * _Q260_B}) AS BIGINT) AS n_over
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q260_histogram_domain_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-drift audit of the q255 histogram state (`operators/
    incremental.histogram_state(track_overflow=True)` +
    `histogram_domain_audit`) — the r9 verdict's item 10: q255's
    clamping state silently absorbs out-of-domain values into its
    edge buckets, so a day whose distribution drifted past the
    declared [lo, hi) reads as healthy. The overflow-tracked variant
    routes such values into sentinel buckets (-1 / n_buckets)
    instead; this lane declares a domain deliberately narrower than
    l_extendedprice's range and reads back (n_in, n_under, n_over)
    per returnflag — both tails non-empty, proving the sentinels
    catch drift ON BOTH SIDES, with the counts merged from a 70/30
    state∪delta split exactly like q255 (same counting monoid). The
    oracle is the three conditional counts over the full table —
    bucketing a value v < lo to the under-sentinel is EXACTLY the
    predicate v < lo, so the audit equals the direct counts
    bit-for-bit; pure integer arithmetic end to end. Scale: the
    audit reads 66 integers per key, zero data re-scan — the state
    IS the evidence."""
    from patientdataintegration_spark.operators.incremental import (
        histogram_domain_audit,
        histogram_state,
        merge_histograms,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_orderkey"
    )
    hist = li.filter(F.col("l_orderkey") % 10 < 7)
    delta = li.filter(F.col("l_orderkey") % 10 >= 7)
    state = merge_histograms(
        [
            histogram_state(
                hist, ["l_returnflag"], "l_extendedprice",
                _Q260_LO, _Q260_W, _Q260_B, track_overflow=True,
            ),
            histogram_state(
                delta, ["l_returnflag"], "l_extendedprice",
                _Q260_LO, _Q260_W, _Q260_B, track_overflow=True,
            ),
        ],
        ["l_returnflag"],
    )
    return histogram_domain_audit(state, ["l_returnflag"], _Q260_B)


# --- exact integer-grain moments (money measures) --------------------------------


@register(
    "q261_moments_exact_money",
    """
    WITH st AS (
      SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS m,
             COUNT(vc) AS n, SUM(vc) AS s, SUM(vc * vc) AS ss
      FROM (SELECT o_orderdate,
                   CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS vc
            FROM orders)
      GROUP BY strftime(CAST(o_orderdate AS DATE), '%Y-%m')
    )
    SELECT m, CAST(n AS BIGINT) AS n,
           CAST(s AS BIGINT) AS sum_i,
           CAST((s * 10000) // n AS BIGINT) AS mean_q,
           CAST(CAST(n * ss - s * s AS DECIMAL(38,0)) AS VARCHAR) AS var_num,
           CAST(n * n AS BIGINT) AS var_den
    FROM st
    """,
)
def q261_moments_exact_money(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact moments over a MONEY measure (`operators/incremental.
    moments_state_scaled` + `moments_exact_readout`) — lifting q254's
    integer-valued-measure restriction BY DESIGN: full-precision
    money squares diverge across engines at the per-row
    double→decimal cast (measured, r9), so the measure is quantized
    to its natural integer grain FIRST — cents via
    floor(price×100 + 0.5), bit-level-identical in both engines (one
    shared IEEE multiply + add + exact floor; never ROUND, whose
    shortest-repr path can flip a boundary the binary value is on
    the other side of). Every downstream number is then an exact
    integer: per-month (n, Σ cents, mean at 10⁻⁴-cent resolution via
    integral DIV, and the variance as the exact RATIONAL
    n·Σx² − (Σx)² over n²) — no FP anywhere after the grain, so the
    readout hash-matches for any measure the grain expresses. Same
    70/30 state∪delta merge as q254 (the identical monoid fold; the
    oracle is one aggregation of the full table). Scale: three
    numbers per key."""
    from patientdataintegration_spark.operators.incremental import (
        merge_moments,
        moments_exact_readout,
        moments_state_scaled,
    )

    o = load_table(spark, sf_dir, "orders").select(
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM").alias("m"),
        "o_totalprice",
        "o_orderkey",
    )
    hist = o.filter(F.col("o_orderkey") % 10 < 7)
    delta = o.filter(F.col("o_orderkey") % 10 >= 7)
    state = merge_moments(
        [
            moments_state_scaled(hist, ["m"], "o_totalprice", scale=100),
            moments_state_scaled(delta, ["m"], "o_totalprice", scale=100),
        ],
        ["m"],
    )
    out = moments_exact_readout(state, ["m"], mean_scale=10_000)
    # cross-engine repr (the q234 discipline): cents sums fit BIGINT
    # (< 2^53 even at sf100); the variance numerator is genuinely
    # 128-bit-wide, so it ships as its exact DIGIT STRING — pandas
    # fetch paths coerce wide decimals to float64, which would round
    # the value before the hash ever sees it
    return out.select(
        "m",
        "n",
        F.col("sum_i").cast("bigint").alias("sum_i"),
        "mean_q",
        F.col("var_num").cast("string").alias("var_num"),
        "var_den",
    )


# --- top-k maintenance under DELETES ---------------------------------------------


@register(
    "q262_topk_retractions",
    """
    SELECT o_custkey, CAST(rk AS BIGINT) AS rank, o_orderkey, o_totalprice
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders WHERE o_orderkey % 37 != 0
    )
    WHERE rk <= 3
    """,
)
def q262_topk_retractions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k state under a DELETE slice (`operators/incremental.
    apply_topk_retractions`) — the q248 dirty-key-repair pattern
    applied to ranking, completing the top-k family q259 opened:
    like min/max, top-k has no inverse (evicting a ranked row
    reveals an unknown (k+1)th the k-row state never kept), so keys
    that saw a delete re-rank from the post-delete base — scanned
    FILTERED to the dirty keys by broadcast semi-join, the only base
    touch — while clean keys' state passes through verbatim. The
    delete slice (every 37th order) hits ranked and unranked rows
    alike; the oracle is the plain window top-3 over the post-delete
    table, so the driver hash proves repair == recompute, including
    keys whose ENTIRE top-3 was wiped and keys where the deleted row
    wasn't ranked at all (conservative dirtiness: redundant repair,
    never a wrong answer). Prices pass through raw — hash-exact.
    Scale: deletes cluster (GDPR erasure, recent-partition
    corrections), so the repair is a sliver, never history."""
    from patientdataintegration_spark.operators.incremental import (
        apply_topk_retractions,
        topk_readout,
        topk_state,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    state_old = topk_state(o, ["o_custkey"], "o_totalprice", 3, "o_orderkey")
    deleted = o.filter(F.col("o_orderkey") % 37 == 0)
    post = o.filter(F.col("o_orderkey") % 37 != 0)
    maintained = apply_topk_retractions(
        state_old, deleted, post, ["o_custkey"], "o_totalprice", 3,
        "o_orderkey",
    )
    return topk_readout(
        maintained, ["o_custkey"], "o_totalprice", "o_orderkey"
    ).select("o_custkey", "rank", "o_orderkey", "o_totalprice")


# --- maintained LSH candidate-pair view -------------------------------------------


def _q263_sql() -> str:
    from patientdataintegration_spark.suite.ext import _lsh_pairs_sql

    return _lsh_pairs_sql()


@register("q263_incremental_lsh_pairs", _q263_sql())
def q263_incremental_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintained MinHash-LSH candidate-pair VIEW under corpus growth
    (`operators/dedup.maintain_lsh_pairs`) — the NEAR-dup member of
    the incremental family (exact dedup has the q240/q247 Bloom
    store): a pair of old ∪ delta has both sides old, split, or both
    new — three disjoint origin classes (the q242 delta argument on a
    self-join), so the stored pairs plus bipartite(store, delta) plus
    within(delta) IS the full recompute, with a plain append. 70% of
    documents plays the persisted corpus (its signatures are the
    state: k=8 integers per doc, banded keys persisted at ingest),
    the rest the day's crawl; the oracle is q92's FULL-corpus LSH
    recompute verbatim (the compose-oracles discipline), so the
    driver hash proves maintenance == recompute across all three
    classes. Scale: the nightly cost is banding the DELTA and two
    bucket joins (delta×store keys, delta×delta) — never a re-band
    or self-join of the corpus; signatures localCheckpoint once
    (three consumers, the q252 freeze discipline — DataFrame DAG
    branches re-execute their upstream otherwise)."""
    from patientdataintegration_spark.operators.dedup import (
        lsh_candidate_pairs,
        maintain_lsh_pairs,
        minhash_signatures,
        shingle_table,
    )

    d = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(shingle_table(d), k=8, seed=42).localCheckpoint()
    sigs_hist = sigs.filter(F.col("doc_id") % 10 < 7)
    sigs_delta = sigs.filter(F.col("doc_id") % 10 >= 7)
    pairs_old = lsh_candidate_pairs(sigs_hist, bands=4, rows_per_band=2)
    return maintain_lsh_pairs(
        pairs_old, sigs_hist, sigs_delta, bands=4, rows_per_band=2
    )


# --- BPE merge training (iterative) -----------------------------------------------


def _q264_sql(n_merges: int = 4, where: str = "") -> str:
    # `where` filters the training corpus (q269's drift audit trains
    # on a slice vs the union); default empty keeps q264/q267's
    # generated SQL byte-identical to the r10 form.
    ctes = [
        f"""w AS (
      SELECT word AS w, CAST(COUNT(*) AS BIGINT) AS wc
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS word
            FROM documents {where})
      WHERE regexp_matches(word, '^[a-z]+$')
      GROUP BY word
    )""",
        """f1 AS (
      SELECT '  ' || array_to_string(string_split(w, ''), '  ') || '  ' AS s,
             wc
      FROM w
    )""",
    ]
    finals = []
    for i in range(1, n_merges + 1):
        ctes.append(f"""p{i} AS (
      SELECT toks[i] AS l, toks[i+1] AS r, CAST(SUM(wc) AS BIGINT) AS cnt
      FROM (SELECT list_filter(string_split(s, '  '), x -> x != '') AS toks,
                   wc
            FROM f{i}),
           UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
      GROUP BY l, r
    )""")
        ctes.append(
            f"b{i} AS (SELECT l, r, cnt FROM p{i}"
            f" ORDER BY cnt DESC, l, r LIMIT 1)"
        )
        finals.append(
            f"SELECT {i} AS step, l AS merge_left, r AS merge_right,"
            f" cnt AS pair_count FROM b{i}"
        )
        if i < n_merges:
            ctes.append(f"""f{i + 1} AS (
      SELECT replace(s, ' ' || b.l || '  ' || b.r || ' ',
                        ' ' || b.l || b.r || ' ') AS s, wc
      FROM f{i}, b{i} b
    )""")
    return "WITH " + ",\n    ".join(ctes) + "\n    " + "\n    UNION ALL ".join(finals)


@register("q264_bpe_merges", _q264_sql(4))
def q264_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge TRAINING over the documents corpus (`operators/
    textops.bpe_merges`, 4 merges) — the iterative tokenizer-building
    loop every LLM pipeline runs before tokenization; the engine's
    token ops (q81 chunking, q82 rarity) consume exactly such a merge
    table. Iterative-by-nature: step i+1's plan depends on step i's
    argmax, so each winner is a single-row plan-time readout (the
    q252/q258 frozen-readout discipline) and the vocab
    localCheckpoints per round (the kmeans/pagerank iteration
    discipline). The oracle UNROLLS all four iterations as CTEs —
    pair counts, argmax with the (cnt DESC, l, r) tiebreak, and the
    double-space-framed literal replace whose left-to-right
    non-overlapping semantics are identical in both engines (probed;
    'a a a' fuses to ('aa','a') like the reference BPE fold) — so the
    driver hash proves the whole training loop step by step. Scale:
    the corpus reduces ONCE to its word-frequency vocabulary (the
    Sennrich formulation — one scan, one vocab-sized shuffle);
    every iteration is vocab-sized, independent of corpus volume.
    Integer counts and ascii-lowercase symbols end to end."""
    from patientdataintegration_spark.operators.textops import bpe_merges

    d = load_table(spark, sf_dir, "documents")
    return bpe_merges(d, "text", n_merges=4)


# --- histogram maintenance under retractions --------------------------------------


def _q265_sql() -> str:
    pct_cte = []
    for p in (50, 90, 99):
        pct_cte.append(f"""q{p} AS (
      SELECT l_returnflag, CAST(n AS BIGINT) AS n,
             {_Q255LO} + {_Q255W} * bucket
               + {_Q255W} * (CAST(t - (cum - cnt) AS DOUBLE)
                              / CAST(cnt AS DOUBLE)) AS q{p}
      FROM (SELECT *, CAST((n * {p} + 99) // 100 AS BIGINT) AS t FROM cum)
      WHERE cum >= t
      QUALIFY row_number() OVER (PARTITION BY l_returnflag ORDER BY bucket) = 1
    )""")
    return f"""
    WITH post AS (
      SELECT l_returnflag, l_extendedprice FROM lineitem
      WHERE NOT (l_orderkey % 31 = 0 AND l_linenumber % 2 = 0)
    ),
    st AS (
      SELECT l_returnflag,
             CAST(LEAST(63, GREATEST(0,
                  FLOOR((CAST(l_extendedprice AS DOUBLE) - {_Q255LO})
                        / {_Q255W}))) AS BIGINT) AS bucket,
             COUNT(*) AS cnt
      FROM post GROUP BY l_returnflag, bucket
    ),
    cum AS (
      SELECT l_returnflag, bucket, cnt,
             SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY bucket) AS cum,
             SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
      FROM st
    ),
    {', '.join(pct_cte)}
    SELECT l_returnflag, n, q50.q50, q90.q90, q99.q99
    FROM q50 JOIN q90 USING (l_returnflag, n) JOIN q99 USING (l_returnflag, n)
    """


# q255's domain constants, restated locally for the oracle f-string
_Q255LO, _Q255W = 900.0, 1626.5625


@register("q265_histogram_retractions", _q265_sql())
def q265_histogram_retractions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-quantile maintenance under DELETES (`operators/
    incremental.histogram_state_signed/apply_histogram_retractions`)
    — the quantile family joins the CRUD set: bucket counts form an
    abelian GROUP (every count has an inverse), so unlike min/max
    (q248) or top-k (q262) retraction needs NO dirty-key repair and
    NO base-table touch — the whole maintenance path is one
    state-sized fold of signed counts, with an in-DAG raise_error if
    any bucket would go negative (double-delete detection: clamping
    would silently corrupt every quantile read from the state). The
    CDC deletes even-numbered lineitems of every 31st order; the
    maintained state then feeds the SAME q255 interpolated-quantile
    readout, and the oracle recomputes histogram → quantiles over
    the post-delete table — the driver hash proves retraction +
    readout == recompute end to end. Scale: the delta is one signed
    map-side-combined count; state stays 64 integers per key."""
    from patientdataintegration_spark.operators.incremental import (
        apply_histogram_retractions,
        histogram_quantile_readout,
        histogram_state,
        histogram_state_signed,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    del_cond = (F.col("l_orderkey") % 31 == 0) & (F.col("l_linenumber") % 2 == 0)
    base = li  # the state covers everything; the CDC retracts the slice
    cdc = li.filter(del_cond).withColumn("op", F.lit(-1))
    state_old = histogram_state(
        base, ["l_returnflag"], "l_extendedprice", _Q255LO, _Q255W, 64
    )
    delta = histogram_state_signed(
        cdc, ["l_returnflag"], "l_extendedprice", _Q255LO, _Q255W, 64
    )
    maintained = apply_histogram_retractions(state_old, delta, ["l_returnflag"])
    return histogram_quantile_readout(
        maintained, ["l_returnflag"], _Q255LO, _Q255W, percents=(50, 90, 99)
    )


# --- rollup maintenance under UPDATES ----------------------------------------------


@register(
    "q266_rollup_updates",
    """
    SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS m,
           CAST(COUNT(p) AS BIGINT) AS n,
           CAST(SUM(CAST(p AS DECIMAL(18,6))) AS DOUBLE) AS sum_v,
           CAST(SUM(CAST(p AS DECIMAL(18,6))) AS DOUBLE) / COUNT(p) AS avg_v,
           MIN(p) AS min_v,
           MAX(p) AS max_v
    FROM (SELECT o_orderdate,
                 CASE WHEN o_orderkey % 41 = 0 THEN o_totalprice + 7.5
                      ELSE o_totalprice END AS p
          FROM orders)
    GROUP BY strftime(CAST(o_orderdate AS DATE), '%Y-%m')
    """,
)
def q266_rollup_updates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup maintenance under UPDATES — the CDC slice carries the
    paired retraction form every CDC system emits for an update
    (op=-1 with the OLD measure, op=+1 with the NEW: every 41st
    order's price moves +7.5), driven through the SAME
    `apply_rollup_retractions` as q248: count is net-zero per
    update, the decimal sum retracts/reapplies algebraically, and
    the updated keys are dirty (the old value might have been the
    min/max) so min/max repair from the post-update base at those
    keys only. The oracle is the plain GROUP BY over the post-update
    table — update == retract+insert == recompute, completing CRUD
    for the rollup family (q114 inserts, q248 deletes, this).
    Exactness: price+7.5 is one shared IEEE op; sums ride
    DECIMAL(18,6). Scale: the q248 argument — O(#keys) state + the
    CDC slice; base touched only at dirty keys via broadcast
    semi-join."""
    from patientdataintegration_spark.operators.incremental import (
        apply_rollup_retractions,
        cdc_rollup_delta,
        partial_rollup,
        rollup_readout,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM").alias("m"),
        "o_totalprice",
    )
    upd = F.col("o_orderkey") % 41 == 0
    post = o.withColumn(
        "o_totalprice",
        F.when(upd, F.col("o_totalprice") + F.lit(7.5)).otherwise(
            F.col("o_totalprice")
        ),
    )
    cdc = (
        o.filter(upd)
        .withColumn("op", F.lit(-1))
        .unionByName(
            o.filter(upd)
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(7.5))
            .withColumn("op", F.lit(1))
        )
    )
    state_new = apply_rollup_retractions(
        partial_rollup(o, ["m"], "o_totalprice"),
        cdc_rollup_delta(cdc, ["m"], "o_totalprice"),
        post,
        ["m"],
        "o_totalprice",
    )
    return rollup_readout(state_new, ["m"]).select(
        "m", "n", "sum_v", "avg_v", "min_v", "max_v"
    )


# --- BPE apply: token inventory after training --------------------------------------


def _q267_sql(n_merges: int = 4, top_k: int = 20) -> str:
    # extend q264's unrolled training CTEs with the FINAL merge's
    # replace, then tokenize the vocab and count
    base = _q264_sql(n_merges)
    with_part, _, _ = base.partition("\n    SELECT 1 AS step")
    # _q264_sql's finals start with "SELECT 1 AS step"; keep only the
    # CTE prologue and append the apply chain
    return f"""{with_part}
    , f{n_merges + 1} AS (
      SELECT replace(s, ' ' || b.l || '  ' || b.r || ' ',
                        ' ' || b.l || b.r || ' ') AS s, wc
      FROM f{n_merges}, b{n_merges} b
    ),
    tok AS (
      SELECT unnest(list_filter(string_split(s, '  '), x -> x != '')) AS token,
             wc
      FROM f{n_merges + 1}
    )
    SELECT token, CAST(SUM(wc) AS BIGINT) AS n_occurrences
    FROM tok GROUP BY token
    ORDER BY n_occurrences DESC, token
    LIMIT {top_k}
    """


@register("q267_bpe_token_frequencies", _q267_sql(4, 20))
def q267_bpe_token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE APPLY (`operators/textops.bpe_token_frequencies`) — the
    other half of q264: tokenize the corpus with the learned 4-merge
    table and read back the top-20 tokens by total occurrence, the
    unit-inventory check a tokenizer build ends with. Train and
    apply share one framed vocab (no recompute, no corpus rescan —
    occurrences are word-frequency-weighted vocab counts); the LIMIT
    rides a provably-unique ORDER BY (count DESC, token). The oracle
    extends q264's unrolled training CTEs with the final merge's
    replace, then the same explode + weighted count — so the hash
    proves train AND apply end to end in one lane. Integer counts
    and ascii symbols throughout. Scale: the apply is a vocab-sized
    explode + one map-side-combined sum; top-k is a TakeOrdered,
    never a full sort."""
    from patientdataintegration_spark.operators.textops import (
        bpe_token_frequencies,
    )

    d = load_table(spark, sf_dir, "documents")
    return bpe_token_frequencies(d, "text", n_merges=4, top_k=20)
