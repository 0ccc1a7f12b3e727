"""Round-6 batch: the embedding near-dup dedup pipeline end to end
(q207 — planted-duplicate construction, banded SRP candidates, exact
cosine, components, canonical keep-list) plus classic decision-
support plan shapes the registry had not yet exercised (multi-level
EXISTS/NOT-EXISTS q208, scalar-subquery anti-join q209, exact
grouped medians q210, join-key skew audit q211, the native pivot API
q212, correlated-average filter q213).

Same exactness contract as `suite/core.py` (decimal sums, single
IEEE divisions with identical parenthesisation, unique ORDER BY
under every LIMIT); the q207 cosine rides the sequential-fold
discipline proven by q36/q192.

Scale stance (100 TB): q207 never enumerates the quadratic pair
space (banded equi-joins, ~1% background collision rate at the
2x8-bit defaults); q208/q213 aggregate before they join; q211 is
the diagnostic you run BEFORE choosing a salting strategy; nothing
collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from patientdataintegration_spark.sources.catalog import load_table
from patientdataintegration_spark.suite.ext4 import _srp_signs
from patientdataintegration_spark.suite.registry import register


# --- embedding-cosine near-duplicate dedup (planted-dup pipeline) -----------

_NEARDUP_K = 16  # SRP hyperplanes: 2 bands x 8 bits
_NEARDUP_BANDS = 2
_NEARDUP_MIN_COS = 0.98
_PLANT_OFFSET = 10_000_000

# corpus = embeddings (as doubles) + a deterministic near-duplicate
# planted for every 10th vector (dim 0 shifted by +0.02 AFTER the
# float->double cast, so both engines compute the identical double).
_CORPUS_SQL = f"""
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
      UNION ALL
      SELECT vec_id + {_PLANT_OFFSET},
             list_transform(range(1, len(embedding) + 1),
               i -> CASE WHEN i = 1 THEN CAST(embedding[i] AS DOUBLE) + 0.02
                         ELSE CAST(embedding[i] AS DOUBLE) END)
      FROM embeddings WHERE vec_id % 10 = 0
"""


def _q207_sql() -> str:
    signs = _srp_signs(k=_NEARDUP_K)
    r = _NEARDUP_K // _NEARDUP_BANDS
    projs = []
    for j in range(_NEARDUP_K):
        lit = "[" + ", ".join(str(s) for s in signs[j]) + "]"
        projs.append(
            f"CASE WHEN list_reduce(list_transform(range(1, len(v) + 1), "
            f"i -> v[i] * ({lit})[i]), (x, y) -> x + y) >= 0 "
            f"THEN 1 ELSE 0 END AS bit{j}"
        )
    bands = [
        " + ".join(f"bit{b * r + i} * {1 << i}" for i in range(r))
        + f" AS band{b}"
        for b in range(_NEARDUP_BANDS)
    ]
    cand_unions = "\n      UNION ".join(
        f"SELECT a.vec_id AS vec_a, c.vec_id AS vec_b "
        f"FROM banded a JOIN banded c "
        f"ON a.band{b} = c.band{b} AND a.vec_id < c.vec_id"
        for b in range(_NEARDUP_BANDS)
    )
    fold = (
        "list_reduce(list_transform(range(1, len({a}) + 1), "
        "i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
    )
    dotab = fold.format(a="ea.v", b="eb.v")
    dotaa = fold.format(a="ea.v", b="ea.v")
    dotbb = fold.format(a="eb.v", b="eb.v")
    projs_sql = ",\n             ".join(projs)
    bands_sql = ", ".join(bands)
    return f"""
    WITH RECURSIVE corpus AS ({_CORPUS_SQL}),
    bits AS (
      SELECT vec_id, v,
             {projs_sql}
      FROM corpus
    ),
    banded AS (SELECT vec_id, {bands_sql} FROM bits),
    cand AS (
      {cand_unions}
    ),
    pairs AS (
      SELECT vec_a, vec_b
      FROM cand
      JOIN corpus ea ON ea.vec_id = vec_a
      JOIN corpus eb ON eb.vec_id = vec_b
      WHERE round({dotab} / (sqrt({dotaa}) * sqrt({dotbb})), 4) + 0.0
            >= {_NEARDUP_MIN_COS}
    ),
    edges AS (
      SELECT vec_a AS src, vec_b AS dst FROM pairs
      UNION SELECT vec_b, vec_a FROM pairs
    ),
    reach(node, lab) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (SELECT node, MIN(lab) AS label FROM reach GROUP BY node),
    labeled AS (
      SELECT c.vec_id, COALESCE(p.label, c.vec_id) AS cluster
      FROM corpus c LEFT JOIN comp p ON p.node = c.vec_id
    )
    SELECT vec_id, CAST(cluster AS BIGINT) AS cluster,
           CAST(COUNT(*) OVER (PARTITION BY cluster) AS BIGINT)
             AS cluster_size,
           vec_id = cluster AS is_canonical
    FROM labeled
    """


def _neardup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    planted = e.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + F.lit(_PLANT_OFFSET)).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: F.when(i == 0, x.cast("double") + F.lit(0.02)).otherwise(
                x.cast("double")
            ),
        ).alias("v"),
    )
    return base.unionByName(planted)


@register("q207_embedding_neardup_clusters", _q207_sql())
def q207_embedding_neardup_clusters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Embedding-cosine near-duplicate dedup, end to end — the vector
    twin of the q86 text pipeline and the q194 image pipeline, with
    the constructed-duplicate discipline of both: a deterministic
    near-dup (dim 0 shifted +0.02, cosine ~0.999) is PLANTED for
    every 10th vector, then the pipeline must find it blind —
    banded SRP candidates (`similarity.srp_banded_neardup_pairs`,
    2 bands x 8 bits over 16 md5-parity hyperplanes: ~99% collision
    at cosine 0.999 vs ~0.8% background, so the candidate set is
    ~1% of the quadratic pair space), exact sequential-fold cosine
    >= 0.98 on candidates only, min-label connected components
    (`dedup.connected_components`), and the canonical keep-list
    (cluster = smallest member id; is_canonical marks the survivor a
    dedup job would keep). FULLY hash-checked: the oracle replays
    plant -> project -> band -> cosine -> recursive closure in SQL.
    Scale: two band equi-joins + one component join per round, never
    all-pairs; band keys are balanced because SRP bits are
    independent fair coins."""
    from patientdataintegration_spark.operators.dedup import (
        connected_components,
    )
    from patientdataintegration_spark.operators.similarity import (
        srp_banded_neardup_pairs,
    )

    corpus = _neardup_corpus(spark, sf_dir)
    pairs = srp_banded_neardup_pairs(
        corpus,
        signs=_srp_signs(k=_NEARDUP_K),
        n_bands=_NEARDUP_BANDS,
        min_cosine=_NEARDUP_MIN_COS,
        id_col="vec_id",
        vec_col="v",
    )
    comp = connected_components(pairs, "vec_a", "vec_b")
    labeled = corpus.select("vec_id").join(
        comp, corpus.vec_id == comp.node, "left"
    ).select(
        "vec_id", F.coalesce(F.col("label"), F.col("vec_id")).alias("cluster")
    )
    w = Window.partitionBy("cluster")
    return labeled.select(
        "vec_id",
        F.col("cluster").cast("bigint").alias("cluster"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("cluster_size"),
        (F.col("vec_id") == F.col("cluster")).alias("is_canonical"),
    )


# --- TPC-H Q21 shape: sole late supplier in multi-supplier orders -----------


@register(
    "q208_sole_late_supplier",
    """
    WITH per_supp AS (
      SELECT l.l_orderkey, l.l_suppkey,
             MAX(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                      THEN 1 ELSE 0 END) AS late
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY l.l_orderkey, l.l_suppkey
    ),
    per_order AS (
      SELECT l_orderkey,
             COUNT(*) AS n_supp,
             SUM(late) AS n_late_supp
      FROM per_supp GROUP BY l_orderkey
    )
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM per_supp p
    JOIN per_order po ON po.l_orderkey = p.l_orderkey
    JOIN supplier s ON s.s_suppkey = p.l_suppkey
    WHERE p.late = 1 AND po.n_supp > 1 AND po.n_late_supp = 1
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
)
def q208_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): suppliers
    with a late shipment (> 60 days after the order date) in
    multi-supplier orders where NO OTHER supplier was late. The
    classic EXISTS + NOT-EXISTS pair decorrelated the way Catalyst
    would: ONE (orderkey, suppkey) aggregate computes per-supplier
    lateness, ONE orderkey rollup computes the order's supplier/late
    counts, and the two correlated quantifiers become plain filter
    predicates (n_supp > 1, n_late_supp = 1) over ONE window pass —
    no repeated subquery scans of lineitem and no join-back (which
    would give per_supp two plan consumers and re-execute the
    lineitem join). Counts are exact integers; s_name is unique per
    supplier (generated as 'Supplier#<key>'), so the LIMIT-20 prefix
    is deterministic. Scale: one (orderkey, suppkey) aggregate
    shuffle, one orderkey window exchange over the aggregated rows,
    one broadcast of the supplier dim."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")

    per_supp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                F.when(
                    F.col("l_shipdate")
                    > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).alias("late")
        )
    )
    # the per-order rollup as a WINDOW over per_supp, not a second
    # aggregate joined back: per_supp has two consumers in the
    # join-back formulation and DataFrame DAG branches re-execute
    # their upstream (the lineitem scan + join ran TWICE — visible as
    # 2x "Scan parquet lineitem" in the r6 plan), while the window
    # rides one extra orderkey exchange on the already-aggregated
    # (order, supplier) rows
    wo = Window.partitionBy("l_orderkey")
    stats = per_supp.select(
        "l_orderkey",
        "l_suppkey",
        "late",
        F.count(F.lit(1)).over(wo).alias("n_supp"),
        F.sum("late").over(wo).alias("n_late_supp"),
    )
    return (
        stats.filter(
            (F.col("late") == 1)
            & (F.col("n_supp") > 1)
            & (F.col("n_late_supp") == 1)
        )
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


# --- TPC-H Q22 shape: rich customers with no orders -------------------------


@register(
    "q209_rich_idle_customers",
    """
    WITH avg_bal AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*) AS a
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
             AS totacctbal
    FROM customer c, avg_bal
    WHERE c.c_acctbal > avg_bal.a
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c.c_nationkey
    ORDER BY c.c_nationkey
    """,
)
def q209_rich_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): customers with an
    above-average positive balance and NO order since 2000-01-01 —
    the lapsed-high-value list (this corpus gives every customer at
    least one lifetime order, so the classic never-ordered predicate
    would be vacuously empty; the recency cutoff keeps the identical
    plan shape with a non-trivial answer at every SF). The scalar
    AVG subquery is one tiny aggregate cross-joined in (Spark
    broadcasts the single row); NOT EXISTS is a left-anti join on
    custkey over the date-filtered orders — the filter pushes into
    the orders scan BEFORE the anti-join shuffles. Exactness: the
    average routes the balance sum through DECIMAL and divides by
    the exact count ONCE — both engines perform the identical
    cast-then-divide, so the threshold double is bit-identical and
    the > filter agrees on every customer. Scale: anti-join shuffles
    on custkey (orders' natural key); the nation rollup is 25
    groups."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("a")
    )
    rich = c.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("a")
    )
    idle = rich.join(
        o, rich.c_custkey == o.o_custkey, "left_anti"
    )
    return (
        idle.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,6)"))
            .cast("double")
            .alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


# --- exact grouped median (token counts per language) -----------------------


@register(
    "q210_token_count_median",
    """
    WITH t AS (
      SELECT lang, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ),
    r AS (
      SELECT lang, n_tok,
             row_number() OVER (PARTITION BY lang
                                ORDER BY n_tok, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM t
    )
    SELECT lang,
           CAST(MAX(n) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS DOUBLE) / COUNT(*) AS median_tokens
    FROM r
    WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
    GROUP BY lang
    ORDER BY lang
    """,
)
def q210_token_count_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT grouped median without percentile functions — the
    portable formulation: rank rows per group with a deterministic
    tiebreak (n_tok, doc_id), keep the one or two middle positions,
    average them. Spark's `percentile` and DuckDB's `quantile_cont`
    interpolate with engine-specific arithmetic; this shape is pure
    integer ranking plus ONE division of exact integers, so it
    hash-matches bit for bit. Scale: one window shuffle on lang (the
    same sort-within-group every exact quantile needs), then a
    25-group rollup; for a 100 TB corpus with few groups, swap in
    per-group sketches only when approximate is acceptable."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "lang",
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tok"),
    )
    w = Window.partitionBy("lang").orderBy("n_tok", "doc_id")
    wc = Window.partitionBy("lang")
    r = t.select(
        "lang",
        "n_tok",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    mid = r.filter(
        (F.col("rn") == F.floor((F.col("n") + 1) / 2))
        | (F.col("rn") == F.floor((F.col("n") + 2) / 2))
    )
    return (
        mid.groupBy("lang")
        .agg(
            F.max("n").cast("bigint").alias("n_docs"),
            (F.sum("n_tok").cast("double") / F.count(F.lit(1))).alias(
                "median_tokens"
            ),
        )
        .orderBy("lang")
    )


# --- join-key skew audit -----------------------------------------------------


@register(
    "q211_join_key_skew",
    """
    WITH per_key AS (
      SELECT l_orderkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_orderkey
    ),
    g AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(MAX(cnt) AS BIGINT) AS max_cnt
      FROM per_key
    )
    SELECT p.l_orderkey, CAST(p.cnt AS BIGINT) AS cnt,
           CAST(p.cnt AS DOUBLE) / CAST(g.total AS DOUBLE) AS share,
           CAST(g.max_cnt AS DOUBLE)
             / (CAST(g.total AS DOUBLE) / CAST(g.n_keys AS DOUBLE))
             AS skew_ratio
    FROM per_key p, g
    ORDER BY p.cnt DESC, p.l_orderkey
    LIMIT 10
    """,
)
def q211_join_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew audit — the diagnostic a pipeline owner runs
    BEFORE picking a shuffle strategy at 100 TB: per-key row counts
    on the join column, the top heavy hitters with their share of
    the table, and the global skew ratio (max key count over the
    mean). A skew_ratio near 1 means plain hash partitioning is
    fine; large values mean the named keys need salting or AQE
    skew-join handling — this query literally outputs the salting
    candidate list. Exactness: counts are integers; share and
    skew_ratio are divisions of exact integers with identical
    parenthesisation in both engines. Scale: one map-side-combined
    count per key, a single-row global rollup broadcast back, top-10
    via ordered limit (Spark's TakeOrderedAndProject — no full
    sort)."""
    li = load_table(spark, sf_dir, "lineitem")
    per_key = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("cnt"))
    g = per_key.agg(
        F.sum("cnt").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.max("cnt").cast("bigint").alias("max_cnt"),
    )
    return (
        per_key.crossJoin(F.broadcast(g))
        .select(
            "l_orderkey",
            F.col("cnt").cast("bigint").alias("cnt"),
            (F.col("cnt").cast("double") / F.col("total").cast("double")).alias(
                "share"
            ),
            (
                F.col("max_cnt").cast("double")
                / (F.col("total").cast("double") / F.col("n_keys").cast("double"))
            ).alias("skew_ratio"),
        )
        .orderBy(F.col("cnt").desc(), "l_orderkey")
        .limit(10)
    )


# --- native pivot API --------------------------------------------------------


@register(
    "q212_status_pivot",
    """
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_f,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_o,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_p
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q212_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The native pivot API (`RelationalGroupedDataset.pivot`) —
    long-to-wide status matrix per order priority. The EXPLICIT
    value list ('F','O','P') matters at scale: without it Spark runs
    a distinct-values collection job over 100 TB before it can even
    plan; with it, the pivot compiles to exactly the conditional
    aggregation the oracle spells out (one shuffle, map-side
    partials, no second pass). Counts are exact; missing cells are 0
    via the count aggregate (never NULL), so the wide schema is
    dense and engine-portable."""
    o = load_table(spark, sf_dir, "orders")
    wide = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).cast("bigint").alias("n_f"),
        F.coalesce(F.col("O"), F.lit(0)).cast("bigint").alias("n_o"),
        F.coalesce(F.col("P"), F.lit(0)).cast("bigint").alias("n_p"),
    ).orderBy("o_orderpriority")


# --- TPC-H Q17 shape: small-quantity-order revenue --------------------------


@register(
    "q213_small_qty_revenue",
    """
    WITH slice_parts AS (
      SELECT p_partkey FROM part WHERE p_brand LIKE 'Brand#2%'
    ),
    avg_qty AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(*) AS aq
      FROM lineitem JOIN slice_parts ON l_partkey = p_partkey
      GROUP BY l_partkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_small,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
             / 7.0 AS avg_yearly
    FROM lineitem l
    JOIN avg_qty a ON a.l_partkey = l.l_partkey
    WHERE l.l_quantity < 0.5 * a.aq
    """,
)
def q213_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): lineitems of a
    brand slice whose quantity is below half the part's average,
    their price total divided over 7 years. The correlated
    AVG-per-part subquery decorrelates to one aggregate joined back
    on partkey. Exactness: the per-part average is decimal-sum /
    exact-count (one division), the threshold one multiply — both
    engines produce the identical double, so the < filter selects
    the identical rows; the revenue sum rides DECIMAL. Scale: the
    part slice prunes BEFORE the lineitem aggregate (semi-join
    pushdown), both heavy operators shuffle on partkey so AQE can
    co-locate them, and the final result is a single row."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    slice_parts = p.filter(F.col("p_brand").like("Brand#2%")).select(
        "p_partkey"
    )
    sliced = li.join(
        F.broadcast(slice_parts), li.l_partkey == F.col("p_partkey")
    )
    avg_qty = sliced.groupBy("l_partkey").agg(
        (
            F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("aq")
    )
    return (
        sliced.join(avg_qty.withColumnRenamed("l_partkey", "a_pk"),
                    F.col("l_partkey") == F.col("a_pk"))
        .filter(F.col("l_quantity") < 0.5 * F.col("aq"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_small"),
            (
                F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast(
                    "double"
                )
                / F.lit(7.0)
            ).alias("avg_yearly"),
        )
    )


# --- SCD Type-2 dimension history from an event log -------------------------


@register(
    "q214_scd2_history",
    """
    WITH e AS (
      SELECT user_id, ts, event_id, event_type
      FROM events WHERE user_id % 10 = 0
    ),
    marked AS (
      SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER w AS prev_type
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    changes AS (
      SELECT user_id, ts, event_id, event_type
      FROM marked
      WHERE prev_type IS NULL OR event_type <> prev_type
    )
    SELECT user_id,
           CAST(row_number() OVER w2 AS BIGINT) AS version,
           event_type AS state,
           epoch_us(ts) AS valid_from_us,
           epoch_us(lead(ts) OVER w2) AS valid_to_us,
           lead(ts) OVER w2 IS NULL AS is_current
    FROM changes
    WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q214_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type 2 with CHANGE COMPRESSION —
    the half of the warehouse op q128 (`temporal.scd2_intervals`,
    every observation = a version) deliberately leaves out: collapse
    each user's event stream to its STATE CHANGES (event_type !=
    previous) FIRST, then turn each change into a validity interval
    [valid_from, valid_to) via lead(), open-ended + is_current on
    the last — the compression that makes SCD2 storable when most
    observations repeat the current state. Two window passes
    over the SAME (user_id; ts, event_id) sort order, so Spark plans
    ONE shuffle + one sort and both windows ride it. Validity bounds
    are epoch MICROSECONDS (exact integers — cross-engine-safe where
    raw timestamp hashing is not); the (ts, event_id) tiebreak makes
    version numbering total. Scale: windows partition by user —
    millions of independent partitions, no global sort; the change
    filter drops ~nothing here (synthetic types alternate) but on
    real dimensions it is the 100x compression that makes SCD2
    storable."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 10 == 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    changes = marked.filter(
        F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type"))
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return changes.select(
        "user_id",
        F.row_number().over(w2).cast("bigint").alias("version"),
        F.col("event_type").alias("state"),
        F.unix_micros("ts").alias("valid_from_us"),
        F.unix_micros(F.lead("ts").over(w2)).alias("valid_to_us"),
        F.lead("ts").over(w2).isNull().alias("is_current"),
    )


# --- sweep-line maximum concurrency ------------------------------------------


@register(
    "q215_max_concurrency",
    """
    WITH iv AS (
      SELECT event_type, ts AS s, ts + INTERVAL 30 MINUTE AS e
      FROM events
    ),
    pts AS (
      SELECT event_type, s AS t, 1 AS delta FROM iv
      UNION ALL
      SELECT event_type, e AS t, -1 AS delta FROM iv
    ),
    run AS (
      SELECT event_type,
             SUM(delta) OVER (PARTITION BY event_type ORDER BY t, delta
                              ROWS UNBOUNDED PRECEDING) AS live
      FROM pts
    )
    SELECT event_type, CAST(MAX(live) AS BIGINT) AS max_concurrent
    FROM run GROUP BY event_type ORDER BY event_type
    """,
)
def q215_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line maximum concurrency — each event opens a 30-minute
    interval; how many are live at the busiest instant, per type?
    The classic interval-overlap aggregation without an interval
    join: explode each interval to a +1 start / -1 end point, one
    running sum per type in (time, delta) order (delta ascending so
    an interval closing at t frees its slot before one opening at t
    takes it — half-open [s, e) semantics), then MAX. Rows tying on
    BOTH t and delta can run in any order without affecting the max
    (the partial-sum multiset across such a run is order-invariant),
    so the result is deterministic without a unique tiebreak. Scale:
    2 rows per event, ONE shuffle on event_type for the window sort,
    a 5-group rollup — compare an interval self-join's quadratic
    blowup on hot windows."""
    e = load_table(spark, sf_dir, "events")
    iv = e.select(
        "event_type",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("e"),
    )
    pts = iv.select(
        "event_type", F.col("s").alias("t"), F.lit(1).alias("delta")
    ).unionByName(
        iv.select("event_type", F.col("e").alias("t"), F.lit(-1).alias("delta"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = pts.select("event_type", F.sum("delta").over(w).alias("live"))
    return (
        run.groupBy("event_type")
        .agg(F.max("live").cast("bigint").alias("max_concurrent"))
        .orderBy("event_type")
    )


# --- blocked fuzzy string join (edit distance) -------------------------------


@register(
    "q216_fuzzy_name_match",
    """
    WITH names AS (
      SELECT DISTINCT p_name FROM part
    ),
    typos AS (
      SELECT p_partkey AS typo_id,
             substr(p_name, 1, 2) || substr(p_name, 4) AS typo_name,
             substr(p_name, 1, 2) AS blk
      FROM part WHERE p_partkey % 7 = 0 AND length(p_name) >= 4
    ),
    cand AS (
      SELECT t.typo_id, t.typo_name, n.p_name,
             levenshtein(t.typo_name, n.p_name) AS lev
      FROM typos t JOIN names n ON substr(n.p_name, 1, 2) = t.blk
      WHERE levenshtein(t.typo_name, n.p_name) <= 1
    ),
    best AS (
      SELECT typo_id, typo_name, p_name AS matched_name,
             CAST(lev AS INTEGER) AS lev,
             row_number() OVER (PARTITION BY typo_id
                                ORDER BY lev, p_name) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY typo_id) AS BIGINT)
               AS n_candidates
      FROM cand
    )
    SELECT typo_id, typo_name, matched_name, lev, n_candidates
    FROM best WHERE rn = 1
    """,
)
def q216_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy string join — entity resolution's workhorse,
    with the constructed-duplicate discipline: every 7th part name
    gets a deterministic typo (3rd character deleted), and the match
    pipeline must link it back to the clean catalog blind. Blocking
    on the 2-char prefix (provably preserved by the planted edit,
    and the reason fuzzy joins scale at all: candidates per typo =
    one prefix bucket, never the full catalog), then exact
    levenshtein <= 1 on candidates only — the same edit-distance
    definition in both engines, integer-exact — and a deterministic
    best-match window (lowest distance, then name). Scale: the
    distance UDF-free JVM levenshtein runs only on the blocked
    candidate set; prefix buckets over real name distributions are
    the classic blocking-key choice; n_candidates in the output is
    the block-quality audit (a huge value says the blocking key is
    too coarse)."""
    p = load_table(spark, sf_dir, "part")
    names = p.select("p_name").distinct()
    typos = p.filter(
        (F.col("p_partkey") % 7 == 0) & (F.length("p_name") >= 4)
    ).select(
        F.col("p_partkey").alias("typo_id"),
        F.concat(
            F.substring("p_name", 1, 2), F.expr("substr(p_name, 4)")
        ).alias("typo_name"),
        F.substring("p_name", 1, 2).alias("blk"),
    )
    cand = (
        typos.join(
            names, F.substring(F.col("p_name"), 1, 2) == F.col("blk")
        )
        .withColumn("lev", F.levenshtein("typo_name", "p_name"))
        .filter(F.col("lev") <= 1)
    )
    wb = Window.partitionBy("typo_id").orderBy("lev", "p_name")
    wc = Window.partitionBy("typo_id")
    return (
        cand.select(
            "typo_id",
            "typo_name",
            F.col("p_name").alias("matched_name"),
            F.col("lev").cast("int").alias("lev"),
            F.row_number().over(wb).alias("rn"),
            F.count(F.lit(1)).over(wc).cast("bigint").alias("n_candidates"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# --- TPC-H Q7 shape: bilateral trade volume ----------------------------------


@register(
    "q217_nation_trade_matrix",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q217_nation_trade_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): bilateral revenue between
    two nations per ship year, across the full 6-table star. The
    nation filter applies to BOTH endpoints symmetrically, pruning
    customer and supplier to ~1/25 each BEFORE the fact joins (the
    selective-dimension-first plan Catalyst picks with broadcast
    dims). Revenue rides the _REV decimal discipline; the year
    extraction is exact integer calendar math. Scale: lineitem
    shuffles once on orderkey for the orders join; supplier/nation
    sides broadcast; the rollup is a handful of groups. The
    symmetric OR predicate stays ONE plan (no union-of-two-joins
    blowup)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return (
        joined.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# --- TPC-H Q8 shape: market share -------------------------------------------


@register(
    "q218_market_share",
    """
    WITH base AS (
      SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
             CAST(l.l_extendedprice * (1 - l.l_discount)
                  AS DECIMAL(18,6)) AS rev,
             n1.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n2.n_regionkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'EUROPE'
    )
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev
                    ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
             / CAST(SUM(rev) AS DOUBLE) AS mkt_share
    FROM base GROUP BY o_year ORDER BY o_year
    """,
)
def q218_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): the share of EUROPE-
    customer revenue supplied by one nation, per order year. The
    numerator/denominator ride the SAME aggregate pass as a
    conditional decimal sum (q161's one-scan discipline — no second
    pass, no self-join), and the share is ONE division of two
    decimal-exact doubles, identical parenthesisation both engines,
    so it hashes equal unrounded. Scale: region prunes the customer
    side to 1/5 before the fact join; both nation dims broadcast;
    the per-year output is tiny."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_reg")
    )
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    zero = F.lit(0).cast("decimal(18,6)")
    base = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(
            F.broadcast(r.filter(F.col("r_name") == "EUROPE")),
            F.col("n2_reg") == F.col("r_regionkey"),
        )
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
    )
    return (
        base.groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(
                        zero
                    )
                ).cast("double")
                / F.sum(rev).cast("double")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# --- time-weighted average ---------------------------------------------------


@register(
    "q219_time_weighted_avg",
    """
    WITH seq AS (
      SELECT event_type,
             CAST(value AS DECIMAL(18,6)) AS v,
             epoch_us(lead(ts) OVER w) - epoch_us(ts) AS dt_us
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(CAST(dt_us AS BIGINT)) AS BIGINT) AS total_us,
           round(CAST(SUM(v * dt_us) AS DOUBLE)
                 / CAST(SUM(dt_us) AS DOUBLE), 6) + 0.0 AS twap
    FROM seq WHERE dt_us IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
)
def q219_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per event type — the time-series
    aggregate a plain AVG gets wrong whenever observations are
    unevenly spaced (a value that held for an hour must weigh 3600x
    one that held a second). Each value holds until the next event
    of its type (lead), weight = the exact MICROSECOND span; TWAP =
    sum(value*dt)/sum(dt). Exactness: value is cast to DECIMAL
    FIRST, so value*dt is an exact decimal-by-integer product and
    both sums are order-independent; the final division is IEEE and
    its DECIMAL(38,6)->DOUBLE inputs can differ by 1 ulp across
    engines (DuckDB divides int128/10^scale in FP; Spark's
    BigDecimal cast is correctly rounded), so the quotient rounds at
    6 with -0.0 normalization. Scale: one window shuffle on
    event_type (same sort the SCD2/streak lanes ride), then a
    5-group rollup; no interval join, no resampling grid."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = e.select(
        "event_type",
        F.col("value").cast("decimal(18,6)").alias("v"),
        (
            F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")
        ).alias("dt_us"),
    ).filter(F.col("dt_us").isNotNull())
    return (
        seq.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
            F.sum(F.col("dt_us").cast("bigint")).cast("bigint").alias("total_us"),
            (
                F.round(
                    F.sum(F.col("v") * F.col("dt_us")).cast("double")
                    / F.sum("dt_us").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("twap"),
        )
        .orderBy("event_type")
    )


# --- native session_window batch aggregation ---------------------------------


@register(
    "q220_native_session_window",
    """
    WITH seq AS (
      SELECT user_id, ts, event_id,
             CAST(value AS DECIMAL(18,6)) AS v,
             CASE WHEN ts - lag(ts) OVER w <= INTERVAL 30 MINUTE
                  THEN 0 ELSE 1 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    tagged AS (
      SELECT user_id, ts, v,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM seq
    )
    SELECT user_id,
           epoch_us(MIN(ts)) AS session_start_us,
           epoch_us(MAX(ts) + INTERVAL 30 MINUTE) AS session_end_us,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(v) AS DOUBLE) AS total_value
    FROM tagged
    GROUP BY user_id, sid
    """,
)
def q220_native_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch aggregation over Spark's NATIVE `session_window` — the
    gap-merging window the engine also uses on streams (q96 is the
    stateful streaming form; q42 builds sessions manually with
    lag+cumsum). `session_window(ts, '30 minutes')` merges events
    within the gap into one window whose end extends 30 minutes past
    the last event — the oracle replays exactly that definition with
    the portable lag/cumsum formulation, pinning that the native
    operator and the manual one agree (window_end = max(ts) + gap).
    Bounds are epoch MICROSECONDS; the value sum rides DECIMAL.
    Scale: session_window plans one shuffle on user_id + one sort —
    identical cost to the manual form, but the merging runs inside
    the aggregate operator in a single pass (no second window)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            "user_id",
            F.session_window("ts", "30 minutes").alias("sw"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.unix_micros("sw.start").alias("session_start_us"),
            F.unix_micros("sw.end").alias("session_end_us"),
            "n_events",
            "total_value",
        )
    )


# --- salted skew join equivalence --------------------------------------------


@register(
    "q221_salted_join",
    """
    SELECT c.c_mktsegment,
           e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE)
             AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment, e.event_type
    ORDER BY c.c_mktsegment, e.event_type
    """,
)
def q221_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew join (`plans/partitioning.salted_join`): the fact
    side scatters each row to one of 8 salt lanes, the dim side
    replicates once per lane, and the join key becomes (key, salt) —
    a persistent hot key's rows spread over 8 reducers instead of
    one straggler. The ORACLE IS THE PLAIN JOIN: salting must be a
    pure physical rewrite with identical results (each fact row
    meets each matching dim row in exactly its one replica), and the
    hash gate proves exactly that, aggregate-for-aggregate. Use
    when AQE's skew split can't help: pre-bucketed layouts, stream-
    static joins, persistent hot entities known in advance. Cost
    story in the operator docstring; here the dim replica (customer
    x8) still broadcasts at dimension scale."""
    from patientdataintegration_spark.plans.partitioning import salted_join

    e = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = salted_join(e, c, "user_id", "c_custkey", n_salts=8)
    return (
        joined.groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("c_mktsegment", "event_type")
    )


# --- mapInArrow lane ----------------------------------------------------------


@register(
    "q222_arrow_byte_stats",
    """
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
           CAST(MAX(strlen(text)) AS BIGINT) AS max_bytes,
           CAST(SUM(CASE WHEN strlen(text) > length(text)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_multibyte_docs
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def q222_arrow_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`mapInArrow` — the fourth and last Python batch API surface
    (q197 scalar pandas UDF, q198 grouped-agg, q199 applyInPandas,
    this one raw Arrow): per-batch pyarrow compute with ZERO
    pandas materialization, the path for byte-level work where even
    a pandas round-trip is waste. The UDF computes each document's
    UTF-8 byte length and a multibyte flag with pyarrow.compute
    kernels (vectorized C++, no per-row Python); the aggregate runs
    JVM-side after. Hash-checked: UTF-8 is canonical, so DuckDB's
    strlen (byte length) replays pyarrow's binary_length exactly. The per-batch
    contract (yield RecordBatches, schema declared up front) is what
    a 100 TB scan hands every task; nothing here touches the
    driver. Storage-planning use: byte (not char) budgets are what
    shard packing and tokenizer throughput estimates need."""
    import pyarrow as pa
    import pyarrow.compute as pc

    d = load_table(spark, sf_dir, "documents").select("lang", "text")

    def byte_stats(batches):
        for batch in batches:
            text = batch.column("text")
            nbytes = pc.binary_length(pc.cast(text, pa.binary()))
            nchars = pc.utf8_length(text)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("lang"),
                    pc.cast(nbytes, pa.int64()),
                    pc.cast(pc.greater(nbytes, nchars), pa.bool_()),
                ],
                names=["lang", "n_bytes", "is_multibyte"],
            )

    stats = d.mapInArrow(
        byte_stats, "lang string, n_bytes bigint, is_multibyte boolean"
    )
    return (
        stats.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_bytes").cast("bigint").alias("total_bytes"),
            F.max("n_bytes").cast("bigint").alias("max_bytes"),
            F.sum(F.col("is_multibyte").cast("int"))
            .cast("bigint")
            .alias("n_multibyte_docs"),
        )
        .orderBy("lang")
    )


@register(
    "q223_stream_session_window",
    """
    WITH seq AS (
      SELECT user_id, ts, event_id,
             CAST(value AS DECIMAL(18,6)) AS v,
             CASE WHEN ts - lag(ts) OVER w <= INTERVAL 30 MINUTE
                  THEN 0 ELSE 1 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    tagged AS (
      SELECT user_id, ts, v,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM seq
    ),
    sessions AS (
      SELECT user_id,
             epoch_us(MIN(ts)) AS session_start_us,
             epoch_us(MAX(ts) + INTERVAL 30 MINUTE) AS session_end_us,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(v) AS DOUBLE) AS total_value
      FROM tagged
      GROUP BY user_id, sid
    ),
    wm AS (
      SELECT (epoch_us(MAX(ts)) // 1000 - 3600000) * 1000 AS wm_us
      FROM events
    )
    SELECT s.user_id, s.session_start_us, s.session_end_us,
           s.n_events, s.total_value
    FROM sessions s, wm
    WHERE s.session_end_us <= wm.wm_us
    """,
)
def q223_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming native session_window (q220's streaming twin — see
    `streaming/events.session_window_stream`), upgraded in r7 from a
    rows-only lane to a FULL hash oracle: the set of sessions an
    append-mode availableNow drain emits is deterministic — exactly
    the batch sessions whose end has passed the final watermark. The
    oracle replays both halves in portable SQL: q220's lag+cumsum
    session construction, then Spark's eviction rule. Eviction
    semantics pinned (verified empirically at sf0.001/0.01/0.1,
    full-row equality): the watermark is tracked in MILLISECONDS
    (max event time truncated to ms, minus the 1 h delay) and a
    session window is emitted when `session_end <= watermark` —
    hence `(epoch_us // 1000 - 3600000) * 1000` in the oracle, which
    matters because the event timestamps carry sub-millisecond
    precision. Sessions closing inside the horizon stay in state and
    are withheld (frontier membership pinned by
    test_q223_stream_sessions_match_batch_up_to_frontier)."""
    from patientdataintegration_spark.streaming.events import (
        session_window_stream,
    )

    return session_window_stream(spark, sf_dir)


# --- RF quality verdict (the q95 partial-oracle pattern for MLlib) -----------


@register(
    "q224_rf_quality_verdict",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_scored,
           TRUE AS beats_chance,
           TRUE AS scores_in_unit,
           TRUE AS preds_binary
    FROM customer
    """,
)
def q224_rf_quality_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib quality gate with the q95 partial-oracle pattern: the
    random-forest scores themselves are model internals no other
    engine can replay (q94 scores the deterministic forest instead,
    operators/forest.py), but the PROPERTIES a pipeline gates deployment on are
    hash-checkable verdicts — every customer scored exactly once,
    accuracy strictly above chance, probabilities inside [0, 1],
    predictions binary. The oracle pins all four TRUE + the exact
    row count; a silent model regression (class collapse, NaN
    probabilities, dropped rows) reddens the hash gate instead of
    only a pytest bound. Deterministic: fixed seed + fixed corpus
    give a fixed accuracy (0.91/0.65/0.55 at the three SFs — the
    margin over 0.5 is real data separation, not luck)."""
    from patientdataintegration_spark.operators.mlbridge import (
        random_forest_scores,
    )

    s = random_forest_scores(spark, sf_dir)
    return s.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_scored"),
        (
            F.avg((F.col("label") == F.col("pred")).cast("double")) > 0.5
        ).alias("beats_chance"),
        (
            (F.min("score") >= 0.0) & (F.max("score") <= 1.0)
        ).alias("scores_in_unit"),
        (F.max(F.abs(F.col("pred") * (F.col("pred") - 1))) == 0).alias(
            "preds_binary"
        ),
    )


# --- TPC-H Q11 shape: concentrated suppliers ---------------------------------


@register(
    "q225_revenue_concentration",
    """
    WITH per_supp AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,6))) AS DOUBLE) AS value
      FROM lineitem GROUP BY l_suppkey
    ),
    total AS (SELECT CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                       AS t,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM per_supp)
    SELECT p.l_suppkey, p.value
    FROM per_supp p, total
    WHERE p.value > (total.t / total.n) * 1.05
    ORDER BY p.value DESC, p.l_suppkey
    """,
)
def q225_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): suppliers whose revenue
    exceeds 1.05x the MEAN supplier revenue (the corpus generator's uniform draws concentrate supplier revenue within ~16% of the mean, so 1.05 is the selective-but-nonempty cut at every SF) — GROUP BY + HAVING
    against a scalar subquery, with a scale-free threshold (a fixed
    global fraction, TPC-H's literal spelling, empties as supplier
    cardinality grows with SF). The one-row global (total, count)
    aggregates over the per-supplier relation and broadcasts into
    the filter; the fact scans ONCE (per_supp feeds both sides —
    Spark reuses the exchange). Exactness: both sums ride DECIMAL;
    the threshold is one division + one multiply of decimal-exact
    doubles, identical parenthesisation both engines. The ORDER BY carries the
    suppkey tiebreak (revenue ties are possible in principle)."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    per_supp = li.groupBy("l_suppkey").agg(
        F.sum(rev).cast("double").alias("value")
    )
    total = per_supp.agg(
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("t"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    return (
        per_supp.crossJoin(F.broadcast(total))
        .filter(F.col("value") > (F.col("t") / F.col("n")) * 1.05)
        .select("l_suppkey", "value")
        .orderBy(F.col("value").desc(), "l_suppkey")
    )


# --- TPC-H Q18 shape: large-volume orders ------------------------------------


@register(
    "q226_large_volume_orders",
    """
    WITH big AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
               AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,6))) > 300
    )
    SELECT c.c_name, o.o_orderkey, epoch_us(o.o_orderdate)
             AS o_orderdate_us,
           o.o_totalprice, b.total_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
)
def q226_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): orders whose total
    line quantity clears a threshold, joined back to customer — the
    canonical IN-(grouped-HAVING-subquery) decorrelated to an
    aggregate + join. The HAVING prunes on the DECIMAL sum itself
    (exact, so the > 300 cut is engine-identical even for boundary
    sums); the surviving key set is tiny, so both joins broadcast
    it. Order date surfaces as epoch micros; the LIMIT rides a
    unique (totalprice DESC, orderkey) order."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("q"))
        .filter(F.col("q") > 300)
        .select("l_orderkey", F.col("q").cast("double").alias("total_qty"))
    )
    return (
        F.broadcast(big)
        .join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            F.unix_micros("o_orderdate").alias("o_orderdate_us"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


# --- TPC-H Q19 shape: disjunctive predicate revenue --------------------------


@register(
    "q227_disjunctive_revenue",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 5 AND 25
           AND l.l_quantity >= 10 AND l.l_quantity <= 30)
       OR (p.p_type = 'PROMO' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity >= 20 AND l.l_quantity <= 40)
    """,
)
def q227_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue): an OR of three
    (brand/type, size-range, quantity-range) conjunctions across the
    join — the disjunctive-predicate stress test. Catalyst keeps the
    whole disjunction as ONE join filter (no union-of-three-joins
    blowup) and pushes the per-side implied predicates
    (CNF-extractable conjuncts) below the join where possible; at
    100 TB the win is that part and lineitem each scan once. All
    comparisons are on integers/exact doubles; revenue rides
    DECIMAL."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & (F.col("l_quantity") >= 1)
            & (F.col("l_quantity") <= 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(5, 25)
            & (F.col("l_quantity") >= 10)
            & (F.col("l_quantity") <= 30)
        )
        | (
            (F.col("p_type") == "PROMO")
            & F.col("p_size").between(1, 10)
            & (F.col("l_quantity") >= 20)
            & (F.col("l_quantity") <= 40)
        )
    )
    return j.filter(cond).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(rev).cast("double").alias("revenue"),
    )


# --- trailing event-time RANGE frame -----------------------------------------


@register(
    "q228_trailing_hour_frame",
    """
    SELECT event_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_trailing_1h,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
             AS sum_trailing_1h
    FROM events
    WINDOW w AS (PARTITION BY event_type
                 ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)
def q228_trailing_hour_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing ONE-HOUR statistics via a RANGE frame over
    event time — the per-row rolling aggregate that bucketed sliding
    windows (q39) cannot express (every row gets ITS OWN trailing
    hour, not a shared grid). The frame bound is in epoch seconds
    (`rangeBetween(-3600, 0)` over `unix_timestamp`, which FLOORS to
    whole seconds — the oracle must floor(epoch(ts)) too, DuckDB's
    epoch keeps fractional microseconds); rows tying on the same second all share
    one frame, so no tiebreak is needed for determinism (RANGE
    includes peers — that is the point of RANGE vs ROWS here). Sum
    rides DECIMAL inside the frame so incremental add/evict is
    exact. Scale: one shuffle on event_type + one sort — the same
    cost as any per-key window; state is the frame width, bounded by
    event rate x 1 hour."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, Window.currentRow)
    )
    return e.select(
        "event_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_trailing_1h"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("sum_trailing_1h"),
    )


# --- SQL UDFs (CREATE FUNCTION ... RETURN) ------------------------------------


@register(
    "q229_sql_udf_macros",
    """
    SELECT CASE WHEN p.p_size <= 10 THEN 'small'
                WHEN p.p_size <= 30 THEN 'mid'
                ELSE 'large' END AS size_band,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY size_band
    ORDER BY size_band
    """,
)
def q229_sql_udf_macros(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL UDFs (Spark 4 `CREATE FUNCTION ... RETURN <expr>`) — the
    reusable-business-logic surface that, unlike a Python UDF, is a
    MACRO: Catalyst inlines the body into the plan, so whole-stage
    codegen, predicate pushdown, and constant folding all still
    apply (the oracle literally IS the inlined expansion, proving
    the equivalence). `line_revenue` packages the suite's decimal
    revenue discipline; `size_band` packages a CASE banding — the
    two idioms ETL teams copy-paste and drift on. Scale: identical
    plan to writing the expressions inline — one broadcast join, one
    partial-aggregated shuffle on the 3 band keys."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION line_revenue("
        "p DOUBLE, d DOUBLE) RETURNS DECIMAL(18,6) "
        "RETURN CAST(p * (1 - d) AS DECIMAL(18,6))"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION size_band(s INT) "
        "RETURNS STRING RETURN CASE WHEN s <= 10 THEN 'small' "
        "WHEN s <= 30 THEN 'mid' ELSE 'large' END"
    )
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "q229_lineitem"
    )
    load_table(spark, sf_dir, "part").createOrReplaceTempView("q229_part")
    return spark.sql(
        """
        SELECT size_band(p.p_size) AS size_band,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(line_revenue(l.l_extendedprice, l.l_discount))
                    AS DOUBLE) AS revenue
        FROM q229_lineitem l JOIN q229_part p
          ON p.p_partkey = l.l_partkey
        GROUP BY size_band(p.p_size)
        ORDER BY size_band
        """
    )


# --- correlated LATERAL subquery (per-row top-k) ------------------------------

_Q230_SQL = """
    SELECT n.n_name, t.s_name, t.s_acctbal
    FROM nation n, LATERAL (
      SELECT s.s_name, s.s_acctbal
      FROM supplier s
      WHERE s.s_nationkey = n.n_nationkey
      ORDER BY s.s_acctbal DESC, s.s_suppkey
      LIMIT 2
    ) t
    ORDER BY n.n_name, t.s_acctbal DESC, t.s_name
"""


@register("q230_lateral_topk", _Q230_SQL)
def q230_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT — per-nation
    top-2 suppliers by balance, spelled the way an analyst writes it
    ("for each row, run this parameterized query"). Spark
    decorrelates the lateral into a DomainJoin and the per-group
    LIMIT into rank machinery — a different planner path from the
    window-function spelling (q15) and from the UDTF LATERAL (q182),
    which is exactly why it earns its own lane; BOTH engines run the
    identical SQL text. The inner ORDER BY carries the suppkey
    tiebreak so the per-group prefix is deterministic. Scale: the
    decorrelated plan is one shuffle on nationkey + per-key rank —
    same cost as the window form; nothing is per-row re-executed."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("q230_nation")
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView(
        "q230_supplier"
    )
    return spark.sql(
        _Q230_SQL.replace("nation n", "q230_nation n").replace(
            "supplier s", "q230_supplier s"
        )
    )


@register(
    "q231_stream_full_outer_join",
    """
    WITH e AS (SELECT event_id AS error_id, user_id, epoch_us(ts) AS e_us
               FROM events WHERE event_type = 'error'),
    c AS (SELECT event_id AS click_id, user_id AS c_user, epoch_us(ts) AS c_us
          FROM events WHERE event_type = 'click'),
    m AS (
      SELECT e.error_id, c.click_id, e.user_id, e.e_us - c.c_us AS micros_between
      FROM e JOIN c ON e.user_id = c.c_user
        AND c.c_us <= e.e_us AND c.c_us > e.e_us - 86400000000
    ),
    wm AS (
      SELECT LEAST((SELECT CAST(FLOOR(MAX(e_us) / 1000) AS BIGINT) FROM e),
                   (SELECT CAST(FLOOR(MAX(c_us) / 1000) AS BIGINT) FROM c))
               AS wm_ms
    )
    SELECT error_id, click_id, user_id, micros_between FROM m
    UNION ALL
    SELECT e.error_id, CAST(NULL AS BIGINT) AS click_id, e.user_id,
           CAST(NULL AS BIGINT) AS micros_between
    FROM e, wm
    WHERE CAST(FLOOR(e.e_us / 1000) AS BIGINT) < wm.wm_ms
      AND NOT EXISTS (SELECT 1 FROM m WHERE m.error_id = e.error_id)
    UNION ALL
    SELECT CAST(NULL AS BIGINT) AS error_id, c.click_id,
           CAST(NULL AS BIGINT) AS user_id,
           CAST(NULL AS BIGINT) AS micros_between
    FROM c, wm
    WHERE CAST(FLOOR(c.c_us / 1000) AS BIGINT) + 86400000 <= wm.wm_ms
      AND NOT EXISTS (SELECT 1 FROM m WHERE m.click_id = c.click_id)
    """,
)
def q231_stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream FULL OUTER interval join — the last
    member of the join-mode family (q99 inner, q201 left outer):
    errors with no same-user click in the window AND clicks that
    never matched any error both surface as half-null rows once
    the watermark passes their join window. Outer emission on BOTH
    sides is the hardest state-cleanup contract the engine offers —
    a row may only be emitted null-extended when state eviction
    PROVES no future match can arrive. UPGRADED r8 from rows-only to
    a FULL hash oracle replaying both eviction rules, calibrated to
    the millisecond against the engine
    (tests/test_stream_eviction_frontier.py): with wm_ms = the min
    over both sides' ms-floored max event time, an unmatched error
    null-emits iff e_ms < wm_ms (STRICT — it can match any future
    click at or above the watermark), and an unmatched click
    null-emits iff c_ms + 24h <= wm_ms (NON-strict — its last
    matchable error is strictly below c+24h). The asymmetry is the
    join condition's (closed, open] interval made visible; the hash
    pins it exactly."""
    from patientdataintegration_spark.streaming.sessions import (
        interval_join_stream,
    )

    return interval_join_stream(
        spark,
        sf_dir,
        window_hours=24,
        table_name="stream_interval_join_full",
        how="full_outer",
    )


# --- approx-percentile bucket edges (the sketch path for q54/q145) ----------


@register(
    "q232_decile_edges_approx",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sum_bal,
           TRUE AS edges_monotone,
           TRUE AS balanced
    FROM customer
    """,
)
def q232_decile_edges_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile rollup by `percentile_approx` bucket EDGES — the
    100 TB sketch path next to q54's exact-rank form (which r7 made
    scale-safe too, via distributed ranking): one pass computes the
    nine decile edges as a mergeable sketch (Greenwald-Khanna,
    accuracy 10000 => rank error <= n/10000), the edges broadcast,
    and bucketing is a map-side array scan — no global sort, no
    second shuffle of the fact table, the exact shape you run when
    even a parallel total sort is too expensive.

    Oracle pattern (q95's bounded-error contract): the sketch's edge
    VALUES are not portable across engines — merge order moves them
    within the rank-error band — so the hash pins what IS invariant:
    exact row conservation (every row lands in exactly one bucket —
    n_total is hash-compared to the true COUNT(*)), the exact decimal
    total riding through the per-bucket sums, edge monotonicity, and
    per-bucket counts within a tolerance (n/10 ± (0.02 n + 10)) that
    is ~200x the sketch's guaranteed rank error — a broken sketch or
    bucketing expression reddens the gate, honest approximation noise
    cannot.

    Tie robustness (r7 ADVICE): the shared body
    `operators/ranking.approx_equidepth_verdict` buckets against the
    DEDUPLICATED edge array — duplicate edges on a heavily tied
    column would otherwise create a structurally empty bucket and
    redden the gate on honest sketch output; the per-bucket count
    band applies only in the duplicate-free case (acctbal is
    effectively tie-free, so the band is live here) and row
    conservation stays unconditionally hard. See the helper's
    docstring and tests/test_ranking.py's tie-degenerate cases."""
    from patientdataintegration_spark.operators.ranking import (
        approx_equidepth_verdict,
    )

    c = load_table(spark, sf_dir, "customer").select("c_acctbal")
    return approx_equidepth_verdict(c, "c_acctbal", 10, "sum_bal")


@register(
    "q233_equidepth_approx",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_price,
           TRUE AS edges_monotone,
           TRUE AS balanced
    FROM lineitem
    """,
)
def q233_equidepth_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram (8 bins of extended price) by
    `percentile_approx` edges — q145's sketch sibling, same
    bounded-error oracle contract as q232 but over the FACT table:
    the one-pass sketch aggregate is the only full-data operator;
    everything after it touches 8-element arrays and 8-row
    relations. Tolerance n/8 ± (0.02 n + 10) vs a guaranteed rank
    error of n/10000; l_extendedprice tie groups (qty x retailprice
    collisions) shift a boundary by at most the tie size, far
    inside the band. Tie robustness mirrors q232 (shared body:
    `operators/ranking.approx_equidepth_verdict` — dedup edges,
    count band live only when all 7 edges are distinct, row
    conservation hard)."""
    from patientdataintegration_spark.operators.ranking import (
        approx_equidepth_verdict,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").cast("double").alias("x")
    )
    return approx_equidepth_verdict(li, "x", 8, "sum_price")


# --- round 8: table integrity fingerprints + WindowGroupLimit top-k ---------

_Q234_NULLTOK = "chr(0) || 'null' || chr(0)"
_Q234_ROW = f"""concat_ws(chr(31),
           coalesce(CAST(o_orderkey AS VARCHAR), {_Q234_NULLTOK}),
           coalesce(CAST(o_custkey AS VARCHAR), {_Q234_NULLTOK}),
           coalesce(o_orderstatus, {_Q234_NULLTOK}),
           coalesce(o_orderpriority, {_Q234_NULLTOK}),
           coalesce(CAST(CAST(o_orderdate AS DATE) AS VARCHAR), {_Q234_NULLTOK}),
           coalesce(CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS VARCHAR), {_Q234_NULLTOK}))"""


@register(
    "q234_table_checksum",
    f"""
    SELECT CAST(o_orderkey % 16 AS INT) AS shard,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(CAST(('0x' || substr(md5({_Q234_ROW}), 1, 16))
                              AS UBIGINT) AS DECIMAL(38,0))) AS VARCHAR)
             AS checksum
    FROM orders
    GROUP BY shard
    """,
)
def q234_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed table integrity fingerprint (`operators/
    integrity.shard_checksum`): per-shard (row count, order-
    independent content checksum) pairs that two clusters compute
    independently to validate a 100 TB copy/migration WITHOUT moving
    data — kilobytes of output localize any mismatch to one
    re-checkable shard. Exactness is the module's design: 64-bit MD5
    prefixes (engine-portable, unlike xxhash64) summed as
    DECIMAL(38,0) (exact, order-independent, mergeable to coarser
    rollups with no re-scan), over a canonical row serialization
    (NUL-framed null token, unit-separator joins, floats quantized
    through DECIMAL(18,4), timestamps through DATE). The DuckDB twin
    rebuilds the identical bytes — the hash match IS the cross-engine
    proof the fingerprint is portable. One scan, one map-side-
    combined aggregate, 16 output rows."""
    from patientdataintegration_spark.operators.integrity import (
        shard_checksum,
    )

    o = load_table(spark, sf_dir, "orders")
    out = shard_checksum(
        o,
        [
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_orderpriority",
            F.col("o_orderdate").cast("date"),
            F.col("o_totalprice").cast("decimal(18,4)"),
        ],
        F.col("o_orderkey") % 16,
        shard_col="shard",
    )
    return out.select(
        "shard", "n_rows", F.col("checksum").cast("string").alias("checksum")
    )


@register(
    "q235_topk_per_group",
    """
    SELECT o_orderpriority, rnk,
           CAST(o_orderkey AS BIGINT) AS o_orderkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey ASC)
               AS rnk
      FROM orders
    )
    WHERE rnk <= 3
    """,
)
def q235_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by value per priority class — registered for the
    PHYSICAL shape, not the (easy) semantics: a `row_number() <= k`
    filter over a partitioned window triggers Spark's
    WindowGroupLimit pushdown, which keeps only k rows PER GROUP PER
    MAP TASK before the shuffle — at 100 TB the exchange moves
    O(groups x k x tasks) rows instead of the whole table, the
    difference between a top-k that works and one that doesn't.
    tests/test_plans.py asserts the WindowGroupLimit(Partial) node
    sits below the exchange. Unique total order (value DESC, key ASC)
    keeps row_number engine-exact; no arithmetic on the double, so
    values hash bit-identically."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.select("o_orderpriority", "o_orderkey", "o_totalprice")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "o_orderpriority",
            "rnk",
            F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
        )
    )
