"""Round-9 additions: the sessionizer state-store audit (q245 — the
q236 introspection pattern extended to the CUSTOM stateful operator,
the r8 verdict's item 6), the nightly-maintenance flagship composing
the whole incremental family into one delta-driven DAG (q246 — item
7), and persisted-Bloom-store replay across two delta days (q247 —
stretch item 8).

Scale stance (100 TB): q245's audit cost is sink + live-state volume
(one O(1) row per open session key — watermark-horizon-bounded),
read partition-parallel from the checkpoint; q246's delta path
touches history only through mergeable state tables and broadcast
delta joins (the reconciliation twin is the thing a nightly job runs
ONCE to certify, not per delta); q247 turns the daily dedup's
history re-scan into an OR-merge of two word-bitmap relations —
kilobytes of I/O regardless of store size.

Exactness contract (suite/core.py rules): q245 replays the
ms-calibrated timeout frontier of tests/test_statestore_audit.py;
q246 emits only integer counts and equality verdicts computed from
DECIMAL-exact or bit-exact comparisons; q247 is bit-identical to the
plain NOT EXISTS by Bloom's no-false-negative guarantee (the q240
argument, now across a persisted store generation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from patientdataintegration_spark.sources.catalog import load_table

QUERIES: dict = {}
ORACLES: dict = {}


def _register(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


# --- sessionizer state-store audit -------------------------------------------


@_register(
    "q245_sessionizer_state_audit",
    """
    WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
    l AS (
      SELECT user_id, us,
             lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us
      FROM e
    ),
    t AS (
      SELECT user_id, us,
             CASE WHEN prev_us IS NULL OR us - prev_us > 43200000000 THEN 1 ELSE 0 END AS new_s
      FROM l
    ),
    s AS (
      SELECT user_id, us,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM t
    ),
    g AS (
      SELECT user_id, MIN(us) AS session_start_us,
             MAX(us) AS session_end_us, COUNT(*) AS n_events
      FROM s GROUP BY user_id, session_id
    ),
    wm AS (
      SELECT CAST(FLOOR(MAX(epoch_us(ts)) / 1000) AS BIGINT) AS wm_ms
      FROM events
    ),
    lastf AS (
      SELECT user_id, MAX(session_end_us) AS last_end FROM g GROUP BY user_id
    )
    SELECT g.user_id, g.session_start_us, g.session_end_us, g.n_events,
           CASE WHEN g.session_end_us < lastf.last_end
                  OR (CAST(FLOOR((g.session_end_us + 43200000000) / 1000)
                           AS BIGINT) + 1) < wm.wm_ms
                THEN 'emitted' ELSE 'state' END AS origin
    FROM g JOIN lastf USING (user_id), wm
    """,
)
def q245_sessionizer_state_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store audit of the CUSTOM stateful sessionizer
    (`streaming/statestore.sessionize_statestore_audit`): drain
    `applyInPandasWithState` sessionization against a pinned
    checkpoint, read the keyed state back via the statestore source
    (one `value.groupState` row per live open session), and union it
    with the emitted sink under an `origin` column. Emitted ∪ state
    reconstructs the batch sessionization EXACTLY — q96 pins WHICH
    sessions a restart-safe consumer has seen; this lane additionally
    proves the NOT-yet-seen remainder is fully recoverable from the
    checkpoint, the audit that lets a 100 TB pipeline trust the
    stream's state as the source of truth. The oracle replays the
    batch gap-split plus the ms-calibrated timeout frontier (q96's
    rule: a trailing session emitted iff floor((end+gap)/1000)+1 <
    floor(max_us/1000)); everything else is live state. Scale: state
    is O(1) per open key (watermark-horizon-bounded), read
    partition-parallel; audit cost = sink + horizon, independent of
    history. Integer microsecond payloads — hash-exact by
    construction."""
    from patientdataintegration_spark.streaming.statestore import (
        sessionize_statestore_audit,
    )

    return sessionize_statestore_audit(
        spark,
        sf_dir,
        gap_seconds=43200,
        watermark="0 seconds",
        table_name="q245_emitted",
    )


# --- nightly-maintenance flagship --------------------------------------------


@_register(
    "q246_nightly_maintenance",
    r"""
    WITH m AS (
      SELECT COUNT(DISTINCT strftime(CAST(o_orderdate AS DATE), '%Y-%m')) AS n
      FROM orders
    ),
    v AS (
      SELECT COUNT(*) AS n FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    s AS (
      SELECT COUNT(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS n
      FROM documents
    )
    SELECT 'rollup' AS artifact, CAST(m.n AS BIGINT) AS n_rows, TRUE AS matches FROM m
    UNION ALL SELECT 'hll_distinct', CAST(m.n AS BIGINT), TRUE FROM m
    UNION ALL SELECT 'bitmap_distinct', CAST(m.n AS BIGINT), TRUE FROM m
    UNION ALL SELECT 'join_view', CAST(v.n AS BIGINT), TRUE FROM v
    UNION ALL SELECT 'bloom_store', CAST(s.n AS BIGINT), TRUE FROM s
    """,
)
def q246_nightly_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nightly-maintenance flagship (r8 verdict item 7): ONE DAG
    takes a day's deltas (orders >= 1998-06-01; every-25th customer;
    every doc_id%10>=7 document) and updates all five maintained
    artifacts of the incremental family, then emits one certification
    relation — (artifact, n_rows, matches) — proving each maintained
    output equals its full-recompute twin:

    - rollup (q114): monoid (n, decimal-sum, min, max) state per
      order-month, hist+delta merged; twin = one aggregation of all
      orders (decimal merge is bit-identical to recompute).
    - hll_distinct (q241): per-month HLL sketch states merged via
      hll_union_agg; twin = one flat sketch over all orders — merged
      registers are IDENTICAL to flat, so even the estimates match
      bit-for-bit.
    - bitmap_distinct (q243): per-(month, bucket) bitmap states
      OR-merged; twin = plain COUNT(DISTINCT) — exact.
    - join_view (q242): ΔJ = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB appended to the
      stored view; twin = the full re-join.
    - bloom_store (q240/q247): the fingerprint store's bitmap
      OR-merged with the day's fresh-key bitmap; twin = from-scratch
      rebuild over the updated store — (word, bits) bit-identical.

    EVERY comparison goes through the q234 checksum (row count +
    order-independent DECIMAL(38,0) MD5-prefix sum, crossJoined 1-row
    relations) — never a row-level diff: that is the certificate's own
    scale shape, since at 100 TB "maintained == recomputed" must
    itself reduce through mergeable state, not re-shuffle two
    view-sized relations through exceptAll. Within-engine double
    rendering is deterministic, so checksumming the readouts' doubles
    is sound here (both sides are Spark; the cross-ENGINE oracle only
    sees counts and booleans).

    The oracle states the certificate a DBA could write down a
    priori: every `matches` TRUE, every n_rows the full-recompute
    cardinality — so the driver hash proves all five maintenance
    algebras simultaneously. Scale: the delta path touches history
    only through state tables (O(#keys) rollup/sketch/bitmap rows,
    m/64 bitmap words) and broadcast delta joins; the recompute twins
    exist only IN the certificate (run once to certify, then
    decommissioned — the q45/q200-style capstone argument)."""
    from patientdataintegration_spark.operators.bloomfilter import (
        bloom_bitmap,
        bloom_prefiltered_antijoin,
        merge_bloom_bitmaps,
    )
    from patientdataintegration_spark.operators.incremental import (
        bitmap_distinct_readout,
        distinct_bitmap_state,
        distinct_readout,
        distinct_sketch_state,
        maintain_join_view,
        merge_bitmap_states,
        merge_distinct_states,
        merge_rollups,
        partial_rollup,
        rollup_readout,
    )
    from patientdataintegration_spark.operators.integrity import shard_checksum
    from patientdataintegration_spark.operators.textops import fingerprint

    def cert(
        name: str,
        maint: DataFrame,
        twin: DataFrame,
        cols,
        n_df: DataFrame | None = None,
    ) -> DataFrame:
        """(artifact, n_rows, matches): checksum both relations down
        to one (n_rows, checksum) row each and compare via a
        single-row broadcast crossJoin — the sanctioned scalar shape,
        zero row-level diffs. n_rows reports the maintained side's
        cardinality unless `n_df` overrides it (bloom: the STORE's
        key count, not the bitmap's word count)."""
        cm = shard_checksum(maint, cols, F.lit(0)).select(
            F.col("n_rows").alias("_n_m"), F.col("checksum").alias("_c_m")
        )
        ct = shard_checksum(twin, cols, F.lit(0)).select(
            F.col("n_rows").alias("_n_t"), F.col("checksum").alias("_c_t")
        )
        row = cm.crossJoin(F.broadcast(ct))
        if n_df is not None:
            row = row.crossJoin(F.broadcast(n_df))
            n_out = F.col("n_override")
        else:
            n_out = F.col("_n_m")
        return row.select(
            F.lit(name).alias("artifact"),
            n_out.cast("bigint").alias("n_rows"),
            (
                (F.col("_n_m") == F.col("_n_t"))
                & (F.col("_c_m") == F.col("_c_t"))
            ).alias("matches"),
        )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM").alias("m"),
        "o_totalprice",
        "o_orderdate",
    )
    o_hist = o.filter(F.col("o_orderdate") < "1998-06-01")
    o_delta = o.filter(F.col("o_orderdate") >= "1998-06-01")

    # 1. monoid rollup
    roll_maint = rollup_readout(
        merge_rollups(
            [
                partial_rollup(o_hist, ["m"], "o_totalprice"),
                partial_rollup(o_delta, ["m"], "o_totalprice"),
            ],
            ["m"],
        ),
        ["m"],
    )
    roll_twin = rollup_readout(partial_rollup(o, ["m"], "o_totalprice"), ["m"])
    roll_cols = ["m", "n", "sum_v", "avg_v", "min_v", "max_v"]
    rollup_row = cert("rollup", roll_maint, roll_twin, roll_cols)

    # 2. HLL distinct state
    hll_maint = distinct_readout(
        merge_distinct_states(
            [
                distinct_sketch_state(o_hist, ["m"], "o_custkey"),
                distinct_sketch_state(o_delta, ["m"], "o_custkey"),
            ],
            ["m"],
        ),
        ["m"],
    )
    hll_twin = distinct_readout(
        distinct_sketch_state(o, ["m"], "o_custkey"), ["m"]
    )
    hll_row = cert("hll_distinct", hll_maint, hll_twin, ["m", "n_distinct_est"])

    # 3. exact bitmap distinct
    bmp_maint = bitmap_distinct_readout(
        merge_bitmap_states(
            [
                distinct_bitmap_state(o_hist, ["m"], "o_custkey"),
                distinct_bitmap_state(o_delta, ["m"], "o_custkey"),
            ],
            ["m"],
        ),
        ["m"],
    )
    bmp_twin = o.groupBy("m").agg(
        F.count_distinct("o_custkey").cast("bigint").alias("n_distinct")
    )
    bitmap_row = cert("bitmap_distinct", bmp_maint, bmp_twin, ["m", "n_distinct"])

    # 4. join view (checksum-certified, the scale-shaped comparison)
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    c_hist = c.filter(F.col("o_custkey") % 25 != 0)
    c_delta = c.filter(F.col("o_custkey") % 25 == 0)
    oj = o.select("o_orderkey", "o_custkey", "m", "o_totalprice")
    a_old = o_hist.select("o_orderkey", "o_custkey", "m", "o_totalprice")
    a_delta = o_delta.select("o_orderkey", "o_custkey", "m", "o_totalprice")
    view_old = a_old.join(c_hist, ["o_custkey"])
    view_maint = maintain_join_view(
        view_old, a_old, a_delta, c_hist, c_delta, ["o_custkey"]
    )
    view_full = oj.join(c, ["o_custkey"])
    cs_cols = [
        "o_orderkey",
        "o_custkey",
        "m",
        F.col("o_totalprice").cast("decimal(18,4)"),
        "c_mktsegment",
    ]
    view_row = cert("join_view", view_maint, view_full, cs_cols)

    # 5. bloom store generation update. Guide §5 / §1.2 (the q278
    # discipline at certificate scale — r17 verdict item 3): the
    # fingerprint derivation (regex-normalize + md5 over every
    # document) is the cert's expensive subtree, and the lazy
    # spelling re-executed it under every consumer — the plan scanned
    # documents 24 times. Pin exactly the SMALL twice-consumed
    # relations: the day's fresh fingerprints (delta-sized — feeds
    # the store union, its own bitmap, and the count) and the
    # history bitmap (≤ m_bits/64 word rows — feeds the prefilter
    # AND the merge, which previously each rebuilt it). The
    # corpus-sized history fingerprints stay UNPINNED (recomputed
    # per consumer — at 100 TB a corpus-sized persist is the wrong
    # trade), and the scratch-rebuild twin stays a genuine full
    # recompute over the updated store: it IS the certificate.
    d = load_table(spark, sf_dir, "documents")
    fp = fingerprint(d)
    hist_fp = (
        fp.filter(F.col("doc_id") % 10 < 7).select("fingerprint").distinct()
    )
    from patientdataintegration_spark.streaming.store import parallel_actions

    res: dict = {}

    def _delta_fp() -> None:
        res["d"] = (
            fp.filter(F.col("doc_id") % 10 >= 7)
            .select("fingerprint")
            .distinct()
            .localCheckpoint()  # consumers: bloom tag + exact anti probe
        )

    def _bm_hist() -> None:
        res["b"] = bloom_bitmap(hist_fp, "fingerprint").localCheckpoint()

    # the two pins are independent — overlap them (guide §2.6)
    parallel_actions([_delta_fp, _bm_hist])
    delta_fp, bm_hist = res["d"], res["b"]
    fresh = bloom_prefiltered_antijoin(
        delta_fp, hist_fp, "fingerprint", bitmap=bm_hist
    ).localCheckpoint()  # consumers: store union, own bitmap, count
    store_new = hist_fp.unionByName(fresh)  # disjoint by construction
    bm_merged = merge_bloom_bitmaps(
        [bm_hist, bloom_bitmap(fresh, "fingerprint")]
    )
    bm_scratch = bloom_bitmap(store_new, "fingerprint")
    bloom_row = cert(
        "bloom_store",
        bm_merged,
        bm_scratch,
        ["word", "bits"],
        n_df=store_new.agg(F.count(F.lit(1)).alias("n_override")),
    )

    return (
        rollup_row.unionByName(hll_row)
        .unionByName(bitmap_row)
        .unionByName(view_row)
        .unionByName(bloom_row)
    )


# --- persisted Bloom store across delta generations ---------------------------


@_register(
    "q247_bloom_store_replay",
    r"""
    WITH fp AS (
      SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
      FROM documents
    ),
    store1 AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 10 < 8),
    day2 AS (SELECT * FROM fp WHERE doc_id % 10 >= 8)
    SELECT fingerprint,
           CAST(MIN(doc_id) AS BIGINT) AS canonical_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM day2 d
    WHERE NOT EXISTS (SELECT 1 FROM store1 s WHERE s.fingerprint = d.fingerprint)
    GROUP BY fingerprint
    """,
)
def q247_bloom_store_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two delta days against a PARQUET-PERSISTED Bloom store (the r8
    stretch item: q240 rebuilt its bitmap from history every run;
    this lane replays the store's real lifecycle). Day 0: gen0 =
    bitmap(history fingerprints, doc_id%10<6), persisted. Day 1
    (doc_id%10 in 6..7): dedup against the LOADED gen0 — the
    prefilter path reads m/8 bytes of parquet, zero history scan —
    then gen1 = OR-merge(gen0, bitmap(day1's fresh keys)), persisted.
    Day 2 (doc_id%10>=8): dedup against the LOADED gen1. The result
    returned is day 2's fresh fingerprints; the oracle is the plain
    NOT EXISTS against the cumulative store (all fingerprints with
    doc_id%10<8), so the driver hash proves the whole persisted
    generation chain — load, delta-merge, save, reload — is
    semantics-preserving (Bloom has no false negatives; OR-merge is
    bit-identical to a scratch rebuild, pinned by
    tests/test_bloomfilter.py::test_bloom_persisted_store_generations).
    Scale: each generation is at most m_bits/8 bytes regardless of
    store size; only day 2's maybe-sliver reaches the exact anti-join
    probe of the store. The bitmap writes happen at build time (the
    streaming-lane precedent); the returned plan is lazy. The store
    lives in a process-scoped scratch dir — wiped on reuse, removed
    at exit — so repeated oracle/bench invocations never accumulate
    bitmap generations (r9 ADVICE)."""
    from patientdataintegration_spark.operators.bloomfilter import (
        bloom_bitmap,
        bloom_prefiltered_antijoin,
        load_bloom_bitmap,
        merge_bloom_bitmaps,
        save_bloom_bitmap,
    )
    from patientdataintegration_spark.operators.textops import fingerprint
    from patientdataintegration_spark.scratch import scratch_dir

    d = load_table(spark, sf_dir, "documents")
    fp = fingerprint(d)
    hist_fp = fp.filter(F.col("doc_id") % 10 < 6).select("fingerprint").distinct()
    day1_fp = (
        fp.filter((F.col("doc_id") % 10 >= 6) & (F.col("doc_id") % 10 < 8))
        .select("fingerprint")
        .distinct()
    )
    day2 = fp.filter(F.col("doc_id") % 10 >= 8).select("doc_id", "fingerprint")

    root = scratch_dir("bloom_store", sf_dir)
    save_bloom_bitmap(bloom_bitmap(hist_fp, "fingerprint"), f"{root}/gen0")
    gen0 = load_bloom_bitmap(spark, f"{root}/gen0")
    fresh1 = bloom_prefiltered_antijoin(
        day1_fp, hist_fp, "fingerprint", bitmap=gen0
    )
    save_bloom_bitmap(
        merge_bloom_bitmaps([gen0, bloom_bitmap(fresh1, "fingerprint")]),
        f"{root}/gen1",
    )
    gen1 = load_bloom_bitmap(spark, f"{root}/gen1")

    store1 = hist_fp.unionByName(fresh1)  # disjoint by construction
    fresh2 = bloom_prefiltered_antijoin(
        day2, store1, "fingerprint", bitmap=gen1
    )
    return fresh2.groupBy("fingerprint").agg(
        F.min("doc_id").cast("bigint").alias("canonical_id"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )


# --- rollup maintenance under retractions (CDC deletes) ----------------------


@_register(
    "q248_rollup_retractions",
    """
    SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS m,
           CAST(COUNT(o_totalprice) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_v,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(o_totalprice) AS avg_v,
           MIN(o_totalprice) AS min_v,
           MAX(o_totalprice) AS max_v
    FROM orders
    WHERE NOT (CAST(o_orderdate AS DATE) < DATE '1996-01-01'
               AND o_orderkey % 37 = 0)
    GROUP BY strftime(CAST(o_orderdate AS DATE), '%Y-%m')
    """,
)
def q248_rollup_retractions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup maintenance under a CDC slice WITH DELETES
    (`operators/incremental.apply_rollup_retractions`) — the algebra
    q114/q242 cannot express: count and decimal-sum form an abelian
    GROUP (a delete applies as (-1, -value), exactly), but min/max
    have no inverse, so dirty keys (those that saw a delete — here
    the pre-1996 months, clustered the way GDPR erasure and
    late corrections cluster) repair min/max from a scan of the
    post-CDC base FILTERED to the dirty keys by broadcast semi-join,
    while clean keys never touch the base at all. The CDC slice:
    every 50th order inserted, every 37th pre-1996 order deleted.
    The oracle is the plain GROUP BY over the post-CDC table — the
    driver hash proves the hybrid algebraic/repair path is
    bit-identical to recompute, including keys whose minimum was the
    deleted row. Scale: the maintenance path shuffles O(#keys) state
    + the CDC slice; the only base touch is the dirty-key sliver."""
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
        F.col("o_orderdate").cast("date").alias("od"),
    )
    del_cond = (F.col("od") < "1996-01-01") & (F.col("o_orderkey") % 37 == 0)
    ins_cond = (F.col("o_orderkey") % 50 == 0) & ~del_cond
    old = o.filter(~ins_cond)
    post = o.filter(~del_cond)
    cdc = (
        o.filter(ins_cond)
        .withColumn("op", F.lit(1))
        .unionByName(o.filter(del_cond).withColumn("op", F.lit(-1)))
    )
    state_new = apply_rollup_retractions(
        partial_rollup(old, ["m"], "o_totalprice"),
        cdc_rollup_delta(cdc, ["m"], "o_totalprice"),
        post,
        ["m"],
        "o_totalprice",
    )
    return rollup_readout(state_new, ["m"])


# --- incremental sessionization maintenance -----------------------------------

# 2024-01-25T00:00:00Z in epoch microseconds: the nightly cutoff —
# events before it are "history" (already sessionized), the rest is
# the day's delta. Static so the oracle can state the same split.
_Q249_CUT_US = 1_706_140_800_000_000


@_register(
    "q249_incremental_sessionize",
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
def q249_incremental_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental sessionization maintenance (`operators/sessionize.
    sessionize_increment`): yesterday's materialized session table
    (events before 2024-01-25, 30-min gap) absorbs the day's delta
    WITHOUT re-sessionizing history. The time-partitioned feed gives
    the load-bearing invariant: only each user's LAST old session can
    interact with later events (every earlier session is separated
    from its successor by more than the gap, and the delta is later
    still), so maintenance = closed sessions verbatim ∪
    interval-coalesce(last session ∪ delta events as zero-length
    intervals) — the generic running-max interval-union operator
    (`coalesce_intervals`), correct even for genuinely overlapping
    intervals where the previous ROW's end is not the frontier. The
    oracle is FULL re-sessionization of all events; the driver hash
    proves maintained == recomputed, including delta-only new users
    and sessions that straddle the cutoff. Scale: history sessions
    are untouched (partition the session table by last-activity day
    and only the hot tail is even read); the coalesce shuffles one
    interval per active user plus the day's events."""
    from patientdataintegration_spark.operators.sessionize import (
        sessionize,
        sessionize_increment,
    )

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", F.unix_micros("ts").alias("us")
    )
    old_ev = e.filter(F.col("us") < _Q249_CUT_US)
    delta = e.filter(F.col("us") >= _Q249_CUT_US).select("user_id", "us")
    sessions_old = sessionize(old_ev, gap_seconds=1800).select(
        "user_id", "start_us", "end_us", "n_events"
    )
    return sessionize_increment(sessions_old, delta, gap_seconds=1800)


# --- hierarchical divergence localization (anti-entropy drill) ----------------

_Q250_COLS_DOC = (
    "o_orderkey, o_custkey, o_orderstatus, o_orderpriority, "
    "DATE(o_orderdate), DECIMAL(18,4)(o_totalprice)"
)


@_register(
    "q250_divergence_drill",
    """
    WITH mm AS (SELECT MIN(o_orderkey) AS kmin, MAX(o_orderkey) AS kmax
                FROM orders),
    tg AS (
      SELECT kmin AS k, 'content' AS kind FROM mm
      UNION ALL
      SELECT kmax AS k, 'count' AS kind FROM mm
    ),
    lv AS (
      SELECT CAST(1 AS INTEGER) AS level, CAST(k % 16 AS BIGINT) AS shard, kind FROM tg
      UNION ALL
      SELECT CAST(2 AS INTEGER), CAST(k % 256 AS BIGINT), kind FROM tg
      UNION ALL
      SELECT CAST(3 AS INTEGER), CAST(k AS BIGINT), kind FROM tg
    )
    SELECT level, shard,
           CASE WHEN MAX(CASE WHEN kind = 'count' THEN 1 ELSE 0 END) = 1
                THEN 'count' ELSE 'content' END AS reason
    FROM lv GROUP BY level, shard
    """,
)
def q250_divergence_drill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-style anti-entropy drill (`operators/integrity.
    locate_divergence`): copy B of the orders table carries two
    injected faults — the MIN-orderkey row's price bumped (+1.00, a
    content fault) and the MAX-orderkey row dropped (a count fault).
    The operator compares per-shard (count, checksum) at key%16,
    descends ONLY into flagged shards for key%256, then emits the
    divergent keys from the surviving sliver — localizing both
    faults to their exact rows while scanning ≤ 1/16 then ≤ 1/256 of
    the copies past level 1. The oracle states the A-PRIORI expected
    drill (each fault flags its shard path with its reason; 'count'
    wins when both land in one shard), so the driver hash proves the
    checksum machinery flags exactly the corrupted paths and nothing
    else — no false positives across every clean shard at every
    level. Scale: the q234 argument per level (kilobyte state, one
    scan each side), with each deeper level's scan fraction bounded
    by flagged/total shards; the 2^-64 per-pair collision stance is
    q234's, documented there."""
    from patientdataintegration_spark.operators.integrity import (
        locate_divergence,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )
    mm = o.agg(
        F.min("o_orderkey").alias("_kmin"), F.max("o_orderkey").alias("_kmax")
    )
    b = (
        o.crossJoin(F.broadcast(mm))
        .filter(F.col("o_orderkey") != F.col("_kmax"))
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_orderpriority",
            "o_orderdate",
            F.when(
                F.col("o_orderkey") == F.col("_kmin"),
                F.col("o_totalprice") + 1.0,
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
    )
    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
        F.col("o_orderdate"),
        F.col("o_totalprice").cast("decimal(18,4)"),
    ]
    return locate_divergence(o, b, cols, "o_orderkey", levels=(16, 256))


# --- plan-time skew advisor ----------------------------------------------------


@_register(
    "q251_skew_advisor",
    """
    WITH c AS (SELECT event_type, COUNT(*) AS cnt FROM events
               GROUP BY event_type),
    t AS (SELECT SUM(cnt) AS total FROM c)
    SELECT event_type, CAST(cnt AS BIGINT) AS cnt,
           CAST((cnt * 32 + total - 1) // total AS BIGINT) AS salt_factor
    FROM c, t WHERE cnt * 32 > total
    """,
)
def q251_skew_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan-time skew profiling (`operators/skew.skew_advisor`) — the
    offline twin of AQE's runtime skew-join detection and the input
    q113's salting needs: every shuffle key heavier than one
    partition's fair share (cnt x 32 > total over event_type),
    with the integer salt factor ceil(cnt x P / total) that spreads
    it back under the fair share. Run on yesterday's data to pick
    today's n_salts; AQE then only catches what the profile missed.
    Pure integer arithmetic end to end (counts, products, DIV), so
    the oracle is the same computation verbatim — hash-exact by
    construction. Scale: one map-side-combined count per key + a
    broadcast single-row total; the profile costs one scan whatever
    the table size."""
    from patientdataintegration_spark.operators.skew import skew_advisor

    e = load_table(spark, sf_dir, "events")
    return skew_advisor(e, ["event_type"], num_partitions=32)


# --- IVF index maintenance under inserts --------------------------------------


def _q252_sql(n_cells: int = 16, iterations: int = 2, dim: int = 64) -> str:
    from patientdataintegration_spark.suite.ext import (
        _SQDIST_REDUCE,
        _kmeans_cte_sql,
    )

    ctes, cent = _kmeans_cte_sql(n_cells, iterations, dim, rel="hist")
    dist = _SQDIST_REDUCE.format(a="e.embedding", b="c.cv")
    return f"""
    WITH hist AS (SELECT * FROM embeddings WHERE vec_id % 10 < 8),
    {ctes},
    asg AS (
      SELECT e.vec_id, c.c,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {dist} ASC, c.c ASC) AS rn
      FROM embeddings e CROSS JOIN {cent} c
    )
    SELECT CAST(c AS BIGINT) AS cell,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           TRUE AS matches
    FROM asg WHERE rn = 1 GROUP BY c
    """


@_register("q252_ivf_index_maintenance", _q252_sql())
def q252_ivf_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index maintenance under inserts — the ANN piece of the
    maintenance family: the coarse quantizer TRAINS ONCE on history
    (deterministic Lloyd's k-means over vec_id%10<8, the q98 'exact'
    quantizer), and the day's new vectors are assigned to those
    FROZEN centroids and appended — the FAISS production pattern
    (re-training moves cell boundaries and would force a full
    re-index; freezing keeps maintenance a delta-only map job).
    Assignment is a pure per-row function of (vector, centroids), so
    maintained index (hist-assign ∪ delta-assign) is bit-identical
    to a rebuild over all vectors — certified in-DAG through the
    q234 checksum over (vec_id, cell) (the q246 pattern), and pinned
    TRUE by the oracle. The oracle independently RECOMPUTES the
    maintained index's per-cell histogram end to end (k-means CTEs
    trained on hist + assignment of every vector), so the driver
    hash checks the full quantizer + assignment pipeline, not just
    the certificate. Scale: delta assignment broadcasts 16 centroids
    under a map-side scan of the day's vectors; history is never
    re-read on the maintenance path (the rebuild twin exists only in
    the certificate). Recall/latency of the maintained index is
    q98/PERF_NOTES territory — identical by bit-identity."""
    from patientdataintegration_spark.operators.clustering import (
        _assign,
        kmeans_centroids,
    )
    from patientdataintegration_spark.operators.integrity import shard_checksum

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    hist = e.filter(F.col("vec_id") % 10 < 8)
    delta = e.filter(F.col("vec_id") % 10 >= 8)
    # TRAIN ONCE, FREEZE: materialize the 16-row centroid table at
    # build time — that is the operator's own semantics (a persisted
    # quantizer all future deltas assign against), and it keeps the
    # three assignment consumers from each re-planning the k-means
    # iterations (the q250 materialize-the-tiny-frontier discipline)
    cent = kmeans_centroids(hist, k=16, iterations=2).localCheckpoint()

    def emb(df: DataFrame) -> DataFrame:
        return df.select(
            "vec_id",
            F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
                "v"
            ),
        )

    maintained = (
        _assign(emb(hist), cent, "vec_id")
        .unionByName(_assign(emb(delta), cent, "vec_id"))
        .select("vec_id", "c")
    )
    rebuilt = _assign(emb(e), cent, "vec_id").select("vec_id", "c")
    cs_m = shard_checksum(maintained, ["vec_id", "c"], F.lit(0)).select(
        F.col("n_rows").alias("_nm"), F.col("checksum").alias("_cm")
    )
    cs_r = shard_checksum(rebuilt, ["vec_id", "c"], F.lit(0)).select(
        F.col("n_rows").alias("_nr"), F.col("checksum").alias("_cr")
    )
    cert = cs_m.crossJoin(F.broadcast(cs_r)).select(
        (
            (F.col("_nm") == F.col("_nr")) & (F.col("_cm") == F.col("_cr"))
        ).alias("matches")
    )
    return (
        maintained.groupBy(F.col("c").cast("bigint").alias("cell"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
        .crossJoin(F.broadcast(cert))
    )


# --- join-view maintenance under deletes ---------------------------------------


@_register(
    "q253_join_view_deletes",
    """
    SELECT c_mktsegment,
           strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderkey % 41 <> 0 AND c_custkey % 29 <> 0
    GROUP BY c_mktsegment, strftime(CAST(o_orderdate AS DATE), '%Y-%m')
    """,
)
def q253_join_view_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-view maintenance under DELETES (`operators/incremental.
    retract_join_view`) — the retraction half q242's insert algebra
    needs for full CRUD: with PK deletes (every 41st order, every
    29th customer), a stored view row dies iff either side's key was
    deleted, so J_new = J_old LEFT-ANTI ΔA⁻(orderkey) LEFT-ANTI
    ΔB⁻(custkey) — two broadcast anti-probes over a partitioned scan
    of the stored view, never an exceptAll (which would shuffle the
    whole view on every column) and never a re-join. The maintained
    view then rolls up to (mktsegment, month) counts + DECIMAL-exact
    sums; the oracle is the re-join of the post-delete tables, so
    the driver hash proves retraction == recompute row-exactly.
    Updates compose as delete + q242 insert; last-writer-wins
    semantics ride the q180 CDC merge. Scale: the delete-key sets
    broadcast (a day's deletes are small against the store); the
    view scan is the only data-proportional touch."""
    from patientdataintegration_spark.operators.incremental import (
        retract_join_view,
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
    view_old = o.join(c, ["o_custkey"])  # stands for the stored view
    del_a = o.filter(F.col("o_orderkey") % 41 == 0)
    del_b = c.filter(F.col("o_custkey") % 29 == 0)
    maintained = retract_join_view(
        view_old, del_a, del_b, "o_orderkey", "o_custkey"
    )
    return maintained.groupBy("c_mktsegment", "month").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_price"),
    )


# --- mergeable second-moment (variance) state ----------------------------------


@_register(
    "q254_moments_state",
    """
    WITH st AS (
      SELECT strftime(CAST(l_shipdate AS DATE), '%Y-%m') AS m,
             COUNT(l_quantity) AS n,
             SUM(CAST(CAST(l_quantity AS DOUBLE) AS DECIMAL(38,6))) AS s,
             SUM(CAST(CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE)
                      AS DECIMAL(38,6))) AS ss
      FROM lineitem
      GROUP BY strftime(CAST(l_shipdate AS DATE), '%Y-%m')
    )
    SELECT m, CAST(n AS BIGINT) AS n,
           CAST(s AS DOUBLE) / n AS mean,
           ROUND((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                 / n, 6) + 0.0 AS var_pop,
           ROUND(sqrt(GREATEST((CAST(ss AS DOUBLE)
                                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                               / n, 0.0)), 6) + 0.0 AS std_pop
    FROM st
    """,
)
def q254_moments_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable second-moment state (`operators/incremental.
    moments_state`): variance/stddev join the maintenance family via
    exact decimal (n, Σx, Σx²) per ship-month of lineitem quantities
    — 70% of lineitems plays the persisted state, the rest the
    delta, merged by the monoid fold. The usual streaming-variance
    recurrences (Welford, Chan's pairwise merge) carry FLOAT state
    whose merge order changes the answer; decimal sums are
    order-independent, so the maintained readout is bit-identical to
    recompute — which is exactly what the oracle (one aggregation of
    the full table) checks. Exactness: quantities are INTEGER-VALUED
    doubles, so each row's square, both decimal sums, and every
    decimal↔double conversion in the readout are exact and
    unambiguous (sums « 2^53); the moment formula is then a fixed
    sequence of single IEEE ops both engines execute identically
    (measured: full-precision MONEY squares need >17 significant
    digits and the per-row double→decimal cast diverges across
    engines — the integer-valued measure is the contract, documented
    on the operator). Scale: state is three numbers per key; merge
    shuffles O(#keys)."""
    from patientdataintegration_spark.operators.incremental import (
        merge_moments,
        moments_readout,
        moments_state,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        F.date_format(F.col("l_shipdate").cast("date"), "yyyy-MM").alias("m"),
        "l_quantity",
        "l_orderkey",
    )
    hist = li.filter(F.col("l_orderkey") % 10 < 7)
    delta = li.filter(F.col("l_orderkey") % 10 >= 7)
    state = merge_moments(
        [
            moments_state(hist, ["m"], "l_quantity"),
            moments_state(delta, ["m"], "l_quantity"),
        ],
        ["m"],
    )
    return moments_readout(state, ["m"])


# --- equi-width histogram state + quantile readout -----------------------------

_Q255_LO, _Q255_W, _Q255_B = 900.0, 1626.5625, 64  # [900, 105000) / 64


def _q255_sql() -> str:
    pct_cte = []
    for p in (50, 90, 99):
        pct_cte.append(f"""q{p} AS (
      SELECT l_returnflag, CAST(n AS BIGINT) AS n,
             {_Q255_LO} + {_Q255_W} * bucket
               + {_Q255_W} * (CAST(t - (cum - cnt) AS DOUBLE)
                              / CAST(cnt AS DOUBLE)) AS q{p}
      FROM (SELECT *, CAST((n * {p} + 99) // 100 AS BIGINT) AS t FROM cum)
      WHERE cum >= t
      QUALIFY row_number() OVER (PARTITION BY l_returnflag ORDER BY bucket) = 1
    )""")
    return f"""
    WITH st AS (
      SELECT l_returnflag,
             CAST(LEAST({_Q255_B - 1}, GREATEST(0,
                  FLOOR((CAST(l_extendedprice AS DOUBLE) - {_Q255_LO})
                        / {_Q255_W}))) AS BIGINT) AS bucket,
             COUNT(*) AS cnt
      FROM lineitem GROUP BY l_returnflag, bucket
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


@_register("q255_histogram_quantile_state", _q255_sql())
def q255_histogram_quantile_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantile member of the maintenance family (`operators/
    incremental.histogram_state`): percentile_approx answers one
    query but exposes no mergeable STATE; the equi-width histogram
    over a declared domain ([900, 105000) in 64 buckets of
    l_extendedprice per returnflag) is the classic substitute —
    per-(key, bucket) integer counts, a pure counting monoid (70% of
    lineitems plays the persisted state, the rest the delta,
    sum-merged), with p50/p90/p99 read out by linear interpolation
    inside the target bucket. Merge == recompute bit-exactly (it IS
    the same counting), which the oracle's one-pass histogram
    checks; the estimates ship UNROUNDED because every readout step
    is a single IEEE op over exact operands (integer counts, dyadic
    width 1626.5625 = 26025/16) in the same fixed order in both
    engines. Error vs the true quantile is bounded by the bucket
    width; q232/q233 audit percentile_approx against exact ranks,
    this lane supplies the maintainable state those can't. Scale:
    64 integers per key regardless of volume."""
    from patientdataintegration_spark.operators.incremental import (
        histogram_quantile_readout,
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
                _Q255_LO, _Q255_W, _Q255_B,
            ),
            histogram_state(
                delta, ["l_returnflag"], "l_extendedprice",
                _Q255_LO, _Q255_W, _Q255_B,
            ),
        ],
        ["l_returnflag"],
    )
    return histogram_quantile_readout(
        state, ["l_returnflag"], _Q255_LO, _Q255_W, percents=(50, 90, 99)
    )
