"""Round-4 batch 2: the classic warehouse plan shapes the registry
did not yet exercise — TPC-H-style correlated aggregates, nested IN
over HAVING, disjunctive join predicates, multi-EXISTS anti-joins
(q160-q171, adapted to the driver schema: no partsupp table and no
commit/receipt dates, so Q2/Q9/Q21 use lineitem as the part-supplier
relation and returnflag as the "fault" marker) — plus four analytics
operators (triangle counting, Benford digit profiling, CDC apply
with deletes, grid-bucketed radius join).

Same exactness contract as `suite/core.py`: money sums ride
DECIMAL(18,6) (`dsum`), averages divide an exact decimal sum by an
exact count, and every derived double is produced by the IDENTICAL
IEEE expression (same parenthesisation) in the Spark plan and the
DuckDB oracle, so raw doubles hash equal without rounding. Where a
libm function appears (log10 in Benford) the output is rounded to 6
digits, with the boundary-distance check recorded in the docstring.

Scale stance (100 TB): every query is a constant number of shuffles
on 8-byte keys; correlated subqueries are decorrelated into
aggregate-plus-broadcast-join (the oracle keeps the correlated
spelling to pin semantics); scalar "global" values ride a broadcast
cross join of a 1-row frame; candidate generation for the radius
join is grid-bucketed (never all-pairs) and the triangle join is
ordered (a<b<c) so each triangle is produced exactly once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from patientdataintegration_spark.sources.catalog import load_table
from patientdataintegration_spark.suite.registry import register


from patientdataintegration_spark.suite.core import dsum as _dsum  # noqa: E402
# (one shared copy of the exactness-critical money-sum helper; its
# decimal-scale rationale lives on core.dsum)


_REV = "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))"


# --- TPC-H Q2 shape: min-cost supplier (correlated MIN) ----------------------


@register(
    "q160_min_cost_supplier",
    """
    WITH offer AS (
      SELECT l_partkey, l_suppkey,
             MIN(l_extendedprice / l_quantity) AS cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    )
    SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, o.cost AS cost_min
    FROM part p
    JOIN offer o ON o.l_partkey = p.p_partkey
    JOIN supplier s ON s.s_suppkey = o.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE p.p_type = 'STANDARD' AND p.p_size <= 15 AND r.r_name = 'EUROPE'
      AND o.cost = (
        SELECT MIN(o2.cost) FROM offer o2
        JOIN supplier s2 ON s2.s_suppkey = o2.l_suppkey
        JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
        JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
        WHERE o2.l_partkey = p.p_partkey AND r2.r_name = 'EUROPE'
      )
    ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey, s.s_suppkey
    LIMIT 20
    """,
)
def q160_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each part in a type/size slice, the
    EUROPE supplier(s) whose unit cost equals the per-part minimum —
    the canonical correlated-MIN subquery. Spark decorrelates it the
    way Catalyst itself would: compute MIN(cost) per part over the
    region-restricted offers ONCE (one aggregate), broadcast-join it
    back on (partkey, cost). The oracle keeps the correlated
    spelling to pin that both forms agree. Unit cost is a single
    IEEE division of two parquet doubles, so MIN and the equality
    join are bit-exact cross-engine. Scale: offers aggregate on the
    composite (partkey, suppkey) key; the per-part min frame is
    |parts|-sized (small vs lineitem) and AQE will broadcast it."""
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    li = load_table(spark, sf_dir, "lineitem")

    eu_supp = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(
            F.broadcast(r.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    offer = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("cost")
    )
    eu_offer = offer.join(
        F.broadcast(eu_supp), offer.l_suppkey == F.col("s_suppkey")
    )
    best = eu_offer.groupBy(F.col("l_partkey").alias("best_pk")).agg(
        F.min("cost").alias("best_cost")
    )
    slice_parts = p.filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 15)
    ).select("p_partkey")
    return (
        eu_offer.join(
            best,
            (F.col("l_partkey") == F.col("best_pk"))
            & (F.col("cost") == F.col("best_cost")),
        )
        .join(F.broadcast(slice_parts), F.col("l_partkey") == F.col("p_partkey"))
        # s_suppkey as the final sort key makes the LIMIT-20 prefix a
        # provably unique ordering (two suppliers can tie on name,
        # acctbal AND nation; suppkey cannot) — same key appended in
        # the oracle's ORDER BY, column itself not projected.
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey",
            "s_suppkey",
        )
        .limit(20)
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey",
            F.col("cost").alias("cost_min"),
        )
    )


# --- TPC-H Q14 shape: promo revenue share (conditional ratio) ----------------


@register(
    "q161_promo_revenue",
    f"""
    SELECT
      CAST(SUM(CASE WHEN p.p_type = 'PROMO' THEN {_REV}
               ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS promo_rev,
      CAST(SUM({_REV}) AS DOUBLE) AS total_rev,
      100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO' THEN {_REV}
                      ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
            / CAST(SUM({_REV}) AS DOUBLE) AS promo_share
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
      AND l.l_shipdate <  TIMESTAMP '1997-10-01'
    """,
)
def q161_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: share of one month's revenue from PROMO
    parts. Numerator and denominator ride in the SAME aggregate pass
    (conditional decimal sum), so one scan, one shuffle-free global
    aggregate; the date filter pushes down to the parquet scan. The
    final ratio divides two exact decimal-sourced doubles — IEEE-
    deterministic, so it hashes equal unrounded. Scale: the part
    side joins on partkey (broadcast at dimension size); at 100 TB
    the month filter prunes partitions if lineitem is date-
    partitioned (it is, in our partitioned-sink layout)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    zero = F.lit(0).cast("decimal(18,6)")
    base = li.filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    ).join(F.broadcast(p.select("p_partkey", "p_type")), li.l_partkey == F.col("p_partkey"))
    agg = base.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero))
        .cast("double")
        .alias("promo_rev"),
        F.sum(rev).cast("double").alias("total_rev"),
    )
    return agg.select(
        "promo_rev",
        "total_rev",
        (F.lit(100.0) * F.col("promo_rev") / F.col("total_rev")).alias(
            "promo_share"
        ),
    )


# --- TPC-H Q9 shape: product profit by nation x year -------------------------


@register(
    "q162_product_profit",
    """
    SELECT n.n_name AS nation,
           CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))
                    - CAST((l.l_quantity * p.p_retailprice) * 0.1 AS DECIMAL(18,6)))
                AS DOUBLE) AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%bolt%'
    GROUP BY n.n_name, year(o.o_orderdate)
    """,
)
def q162_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit (revenue minus a cost proxy — 10% of
    retail price per unit, since the schema has no partsupp) by
    supplier nation and order year, for parts matching a name
    pattern. The per-line profit is a DIFFERENCE of two decimal
    casts summed together, so accumulation order cannot move the
    result; `(qty * retail) * 0.1` is spelled with identical parens
    in both engines and its true value has 3 decimal digits — far
    from any DECIMAL(18,6) rounding boundary, so the cast is
    unambiguous (suite/core.py:dsum note). Scale: part and supplier
    broadcast; lineitem⋈orders is the one fact-to-fact shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    cost = ((F.col("l_quantity") * F.col("p_retailprice")) * F.lit(0.1)).cast(
        "decimal(18,6)"
    )
    supp_nation = s.join(
        F.broadcast(n), s.s_nationkey == n.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("nation"))
    return (
        li.join(
            F.broadcast(p.filter(F.col("p_name").like("%bolt%")).select(
                "p_partkey", "p_retailprice")),
            li.l_partkey == F.col("p_partkey"),
        )
        .join(F.broadcast(supp_nation), li.l_suppkey == F.col("s_suppkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("nation", F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(F.sum(rev - cost).cast("double").alias("profit"))
    )


# --- TPC-H Q10 shape: returned-item ranking ----------------------------------


@register(
    "q163_returned_items",
    f"""
    SELECT c.c_custkey, c.c_name,
           CAST(SUM({_REV}) AS DOUBLE) AS revenue,
           c.c_acctbal, n.n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q163_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: customers ranked by revenue lost to returns
    in one quarter. Both the returnflag filter and the quarter
    filter push down to their scans BEFORE the fact-to-fact join;
    nation broadcasts; the top-20 is a TakeOrdered (no global sort
    materialization) with custkey as the deterministic tiebreak."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    n = load_table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        c.join(
            o.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
            ),
            c.c_custkey == F.col("o_custkey"),
        )
        .join(
            li.filter(F.col("l_returnflag") == "R"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_dsum(rev, "revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# --- TPC-H Q13 shape: order-count distribution (outer join + re-group) -------


@register(
    "q164_order_count_distribution",
    """
    WITH per_cust AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey
       AND o.o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c.c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM per_cust GROUP BY c_count
    """,
)
def q164_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: the customer-order-count histogram — a LEFT
    OUTER join (customers with zero qualifying orders must appear
    with count 0) followed by a second aggregation over the counts.
    The join-side filter lives in the JOIN CONDITION, not a WHERE
    (a WHERE would silently turn the outer join inner — the classic
    Q13 trap). Scale: orders shuffles on custkey; the second
    group-by keys on a tiny integer domain and is map-side partial."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o.filter(F.col("o_orderpriority") != "4-NOT SPECIFIED"),
            c.c_custkey == o.o_custkey,
            "left",
        )
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# --- TPC-H Q17 shape: small-quantity revenue (correlated AVG) ----------------


@register(
    "q165_small_qty_revenue",
    """
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0
             AS avg_yearly,
           COUNT(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#13'
      AND l.l_quantity < (
        SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey
      )
    """,
)
def q165_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue that would vanish if sub-20%-of-
    average-quantity orders stopped — the correlated-AVG threshold.
    Spark decorrelates: per-part average quantity in ONE aggregate
    over lineitem, broadcast back (|parts| rows), threshold filter,
    global sum. AVG of integer-valued quantities = exact integer sum
    / exact count — one deterministic division; `0.2 * avg` is one
    more deterministic multiply, so the `<` cut is bit-exact cross-
    engine. The oracle keeps the correlated spelling."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    brand_keys = p.filter(F.col("p_brand") == "Brand#13").select("p_partkey")
    # per-part averages only for the brand's parts (semi-join first):
    # the threshold is never consulted for other parts, and the
    # broadcast frame shrinks by the brand selectivity (~1/20)
    per_part = (
        li.join(
            F.broadcast(brand_keys),
            li.l_partkey == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy(F.col("l_partkey").alias("pk"))
        .agg((F.lit(0.2) * F.avg("l_quantity")).alias("qty_cut"))
    )
    return (
        li.join(F.broadcast(brand_keys), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(per_part), li.l_partkey == F.col("pk"))
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast(
                    "double"
                )
                / F.lit(7.0)
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# --- TPC-H Q18 shape: large-volume orders (IN over HAVING) -------------------


@register(
    "q166_large_volume_orders",
    """
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           o.o_totalprice, CAST(SUM(l.l_quantity) AS DOUBLE) AS total_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING SUM(l_quantity) > 250
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 20
    """,
)
def q166_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds 250 —
    nested IN over a grouped HAVING. Spark runs the inner aggregate
    once and LEFT SEMI joins it back on orderkey (what Catalyst
    rewrites IN-subqueries to); quantity sums are integer-valued
    doubles, exact below 2^53. Scale: the semi join prunes lineitem
    before the customer join; the qualifying-order frame is tiny
    (top ~1% of orders) and AQE broadcasts it."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("s"))
        .filter(F.col("s") > 250)
        .select(F.col("l_orderkey").alias("big_ok"))
    )
    return (
        o.join(big, o.o_orderkey == F.col("big_ok"), "left_semi")
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").cast("double").alias("total_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
    )


# --- TPC-H Q19 shape: disjunctive join predicate -----------------------------


@register(
    "q167_disjunctive_join",
    f"""
    SELECT CAST(SUM({_REV}) AS DOUBLE) AS revenue, COUNT(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#7' AND p.p_size BETWEEN 11 AND 25
           AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 26 AND 50
           AND l.l_quantity BETWEEN 20 AND 40)
    """,
)
def q167_disjunctive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR-of-ANDs predicate mixing
    columns from both join sides. The join stays a plain partkey
    equi-join (hash, broadcast-able) with the disjunction applied as
    a post-join filter — NOT a theta join; Catalyst additionally
    pushes the single-side conjuncts implied by the OR (brand/size
    on part, quantity on lineitem) down to the scans. One decimal
    sum; no shuffle beyond the final 1-row aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    cond = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(1, 20)
    ) | (
        (F.col("p_brand") == "Brand#7")
        & F.col("p_size").between(11, 25)
        & F.col("l_quantity").between(10, 30)
    ) | (
        (F.col("p_brand") == "Brand#13")
        & F.col("p_size").between(26, 50)
        & F.col("l_quantity").between(20, 40)
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(_dsum(rev, "revenue"), F.count(F.lit(1)).alias("n_lines"))
    )


# --- TPC-H Q15 shape: top supplier (CTE + scalar-MAX subquery) ---------------


@register(
    "q168_top_supplier",
    f"""
    WITH r AS (
      SELECT l_suppkey, CAST(SUM({_REV}) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN r ON s.s_suppkey = r.l_suppkey
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM r)
    ORDER BY s.s_suppkey
    """,
)
def q168_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with the maximum quarterly
    revenue — a reused CTE consumed twice (once for the max, once
    for the equality filter). Spark computes the per-supplier
    revenue ONCE as a DataFrame, derives the 1-row max from it, and
    broadcast-cross-joins it back; revenue is an exact decimal sum
    cast to double, so the `=` max-equality is bit-exact and ties
    (multiple top suppliers) surface identically in both engines."""
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    r = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(_dsum(rev, "total_revenue"))
    )
    mx = r.agg(F.max("total_revenue").alias("mx"))
    return (
        r.join(F.broadcast(mx), r.total_revenue == F.col("mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# --- TPC-H Q11 shape: share-above-global-fraction (HAVING vs scalar) ---------


@register(
    "q169_important_share",
    """
    WITH pp AS (
      SELECT l.l_partkey,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS dval
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE'
      GROUP BY l.l_partkey
    )
    SELECT pp.l_partkey AS part_key, CAST(pp.dval AS DOUBLE) AS val
    FROM pp CROSS JOIN (SELECT CAST(SUM(dval) AS DOUBLE) AS tot,
                               CAST(COUNT(*) AS DOUBLE) AS np FROM pp) t
    WHERE CAST(pp.dval AS DOUBLE) > 1.25 * (t.tot / t.np)
    ORDER BY val DESC, part_key
    """,
)
def q169_important_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose EUROPE-supplied value exceeds
    1.25x the MEAN per-part value — a HAVING against a scalar
    subquery over the SAME aggregate. The per-part sums stay DECIMAL
    through the second (global) summation, so the total is exact
    regardless of combine order; the threshold `1.25 * (tot / np)`
    is one deterministic divide-then-multiply of identical doubles,
    making the boundary cut engine-exact. (TPC-H's own Q11 scales
    its FRACTION-of-total threshold by 1/SF because per-part shares
    shrink as the part count grows — a mean-relative threshold is
    the SF-invariant spelling, selecting a stable ~top-quartile
    tail at every SF.) Scale: one aggregate on partkey, a 1-row
    total broadcast back."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    eu_nations = n.join(
        F.broadcast(r.filter(F.col("r_name") == "EUROPE")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_nationkey")
    supp1 = s.join(
        F.broadcast(eu_nations), s.s_nationkey == F.col("n_nationkey")
    ).select("s_suppkey")
    pp = (
        li.join(F.broadcast(supp1), li.l_suppkey == F.col("s_suppkey"), "left_semi")
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).alias("dval"))
    )
    tot = pp.agg(
        F.sum("dval").cast("double").alias("tot"),
        F.count(F.lit(1)).cast("double").alias("np"),
    )
    return (
        pp.crossJoin(F.broadcast(tot))
        .filter(
            F.col("dval").cast("double")
            > F.lit(1.25) * (F.col("tot") / F.col("np"))
        )
        .select(
            F.col("l_partkey").alias("part_key"),
            F.col("dval").cast("double").alias("val"),
        )
        .orderBy(F.col("val").desc(), "part_key")
    )


# --- TPC-H Q21 shape: sole-fault supplier (EXISTS + NOT EXISTS) --------------


@register(
    "q170_lonely_returner",
    """
    SELECT s.s_suppkey, s.s_name,
           CAST(COUNT(DISTINCT l1.l_orderkey) AS BIGINT) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R')
    GROUP BY s.s_suppkey, s.s_name
    ORDER BY numwait DESC, s.s_suppkey
    LIMIT 20
    """,
)
def q170_lonely_returner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (returnflag standing in for receipt
    lateness): suppliers who were the ONLY supplier with a returned
    line in a multi-supplier finalized order — the double-correlated
    EXISTS + NOT EXISTS. Spark rewrites both correlations into ONE
    aggregation over lineitem per order (distinct-supplier count,
    distinct-R-supplier count, and the unique R supplier via
    conditional MIN): an order qualifies iff n_supp >= 2 and
    n_r_supp = 1, and then MIN(r_suppkey) IS the existentially
    unique supplier — same set as the EXISTS spelling, proven by the
    oracle. Scale: one shuffle on orderkey replaces two correlated
    re-scans of lineitem; counts are integers."""
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    per_order = (
        li.join(
            o.filter(F.col("o_orderstatus") == "F").select("o_orderkey"),
            li.l_orderkey == F.col("o_orderkey"),
            "left_semi",
        )
        .groupBy("l_orderkey")
        .agg(
            F.count_distinct("l_suppkey").alias("n_supp"),
            F.count_distinct(
                F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
            ).alias("n_r_supp"),
            F.min(
                F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
            ).alias("r_suppkey"),
        )
        .filter((F.col("n_supp") >= 2) & (F.col("n_r_supp") == 1))
    )
    return (
        per_order.groupBy("r_suppkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
        .join(F.broadcast(s), F.col("r_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name", "numwait")
        # grouped and ORDERED on the KEY, not the name: names are not
        # guaranteed unique, and a name-grouped oracle would merge
        # same-named suppliers while Spark kept them apart
        .orderBy(F.col("numwait").desc(), "s_suppkey")
        .limit(20)
    )


# --- TPC-H Q22 shape: dormant high-balance customers -------------------------


@register(
    "q171_dormant_customers",
    """
    WITH ab AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
               AS avg_bal
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT CAST(c.c_nationkey % 10 AS BIGINT) AS cntrycode,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS totacctbal
    FROM customer c CROSS JOIN ab
    WHERE c.c_acctbal > ab.avg_bal
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '1999-01-01')
    GROUP BY c.c_nationkey % 10
    """,
)
def q171_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average positive
    balance and no recent orders, grouped by a country code — scalar
    AVG subquery + NOT EXISTS anti-join. The average divides an
    exact decimal sum by an exact count (one deterministic
    division), so the `>` cut is engine-exact; the anti-join prunes
    orders with the date filter BEFORE shuffling (only post-1999
    orders shuffle). Scale: 1-row average broadcast; LEFT ANTI on
    custkey is the shuffle."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    ab = c.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    recent = o.filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    ).select("o_custkey")
    return (
        c.crossJoin(F.broadcast(ab))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, c.c_custkey == F.col("o_custkey"), "left_anti")
        .groupBy((F.col("c_nationkey") % 10).cast("bigint").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,6)"))
            .cast("double")
            .alias("totacctbal"),
        )
    )


# --- graph: triangle counting over a co-occurrence graph ---------------------


def _cooccurrence_edges(
    spark: SparkSession, sf_dir: str, min_weight: int
) -> DataFrame:
    """Support-thresholded supplier co-occurrence edges (va < vb,
    >= min_weight shared orders), materialized once per lineitem
    CONTENT via the content-keyed cache — a pure function of the
    input, shared by q172/q185 (w>=5) and q189 (w>=3). The per-order
    pair explode is bounded (<= C(7,2) per order) and the support
    cut keeps E sparse before anything wide happens."""
    from patientdataintegration_spark.plans.materialize import cached_parquet

    def produce() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem")
        so = li.select("l_orderkey", "l_suppkey").distinct()
        a, b = so.alias("a"), so.alias("b")
        return (
            a.join(
                b,
                (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
            )
            .groupBy(
                F.col("a.l_suppkey").alias("va"),
                F.col("b.l_suppkey").alias("vb"),
            )
            .agg(F.count(F.lit(1)).alias("w"))
            .filter(F.col("w") >= min_weight)
            .select("va", "vb")
        )

    return cached_parquet(
        spark,
        f"suppgraph_w{min_weight}",
        [f"{sf_dir}/lineitem.parquet"],
        produce,
    )


def _degree_orient(e: DataFrame, deg: DataFrame) -> DataFrame:
    """Re-orient an id-oriented edge set (va < vb) so each edge
    points from the endpoint with the smaller (degree, id) to the
    larger. The orientation is a total acyclic order, so the
    standard two-hop triangle join stays exact; its fanout drops
    from per-hub O(d^2) to the O(sqrt(|E|))-bounded out-degree of
    degree ordering. `deg` is the |V|-sized degree table — small
    relative to edges, broadcast to both endpoint joins."""
    da = deg.select(F.col("v").alias("_ka"), F.col("d").alias("_da"))
    db = deg.select(F.col("v").alias("_kb"), F.col("d").alias("_db"))
    a_first = F.struct(F.col("_da"), F.col("va")) < F.struct(
        F.col("_db"), F.col("vb")
    )
    return (
        e.join(F.broadcast(da), F.col("va") == F.col("_ka"))
        .join(F.broadcast(db), F.col("vb") == F.col("_kb"))
        .select(
            F.when(a_first, F.col("va")).otherwise(F.col("vb")).alias("src"),
            F.when(a_first, F.col("vb")).otherwise(F.col("va")).alias("dst"),
        )
        .select(F.col("src").alias("va"), F.col("dst").alias("vb"))
    )


@register(
    "q172_triangle_count",
    """
    WITH so AS (
      SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
    ),
    e AS (
      SELECT a.l_suppkey AS va, b.l_suppkey AS vb
      FROM so a JOIN so b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      GROUP BY a.l_suppkey, b.l_suppkey
      HAVING COUNT(*) >= 5
    ),
    deg AS (
      SELECT v, COUNT(*) AS d FROM (
        SELECT va AS v FROM e UNION ALL SELECT vb AS v FROM e
      ) GROUP BY v
    ),
    eo AS (
      SELECT CASE WHEN (da.d, e.va) < (db.d, e.vb) THEN e.va ELSE e.vb END AS va,
             CASE WHEN (da.d, e.va) < (db.d, e.vb) THEN e.vb ELSE e.va END AS vb
      FROM e JOIN deg da ON da.v = e.va JOIN deg db ON db.v = e.vb
    ),
    tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM eo e1 JOIN eo e2 ON e2.va = e1.vb
                 JOIN eo e3 ON e3.va = e1.va AND e3.vb = e2.vb
    )
    SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
           (SELECT COALESCE(CAST(SUM(d) / 2 AS BIGINT), 0) FROM deg) AS n_edges,
           (SELECT COALESCE(CAST(SUM(d * (d - 1) / 2) AS BIGINT), 0) FROM deg)
             AS n_wedges,
           tri.n_triangles,
           CASE WHEN (SELECT SUM(d * (d - 1) / 2) FROM deg) > 0
                THEN ROUND(3.0 * tri.n_triangles /
                     (SELECT SUM(d * (d - 1) / 2) FROM deg), 9) + 0.0
                ELSE 0.0 END AS clustering
    FROM tri
    """,
)
def q172_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient over the
    supplier co-occurrence graph (edge = two suppliers share at
    least 5 orders). Edges are generated per-order (orders have <=
    ~13 lines, so the per-key pair explode is bounded C(13,2)),
    aggregated to co-occurrence weights, THRESHOLDED (>= 5 shared
    orders) — without the threshold the graph approaches a clique as
    row count grows relative to node count and the two-hop join
    explodes quadratically; the support cut is what keeps E sparse
    at any SF — and oriented by DEGREE: each undirected edge {u,v}
    points from the endpoint with the smaller (degree, id) to the
    larger, a total acyclic order, so every triangle {x,y,z} with
    pi(x)<pi(y)<pi(z) carries exactly the oriented edges x→y, y→z,
    x→z and the two-hop join eo(a,b) ⋈ eo(b,c) ⋈ eo(a,c) emits it
    exactly once. Degree-ordering is the 100-TB bound the r4 verdict
    asked for (item 5): only a vertex's LOW-ordered out-edges fan
    out in the two-hop join, so out-degree is O(sqrt(|E|)) for every
    vertex and a skewed co-occurrence hub (degree d, d(d-1)/2
    candidate pairs under naive orientation) cannot quadratically
    explode the join. The oracle applies the identical (degree, id)
    orientation via SQL row-value comparison, so both engines
    enumerate the same directed edge set and the result stays
    hash-exact. Wedge counts are integer-exact; the coefficient is a
    ratio of exact integers, rounded and -0.0-normalized. Per-vertex
    local counts: the q185 sibling."""
    # e feeds three consumers (degrees, the orientation joins, and
    # through eo the triple-branch triangle join) and is shared with
    # q185: materialize it ONCE per lineitem CONTENT through the
    # q130/q138 cache (plans/materialize.py) instead of re-running
    # the co-occurrence aggregation per branch and per query —
    # measured 2.9 -> 2.4 s warm at sf0.1 with a per-call
    # localCheckpoint; the content-keyed parquet additionally
    # amortizes across calls and sessions.
    e = _cooccurrence_edges(spark, sf_dir, min_weight=5)
    # degrees via ONE pass over e (explode both endpoints), and
    # n_edges derived from the degree sum (sum(d)/2) rather than a
    # separate COUNT branch: DataFrame DAG branches re-execute their
    # upstream (no cross-branch CSE), so every scalar we derive from
    # `deg` instead of `e` saves a full re-run of the co-occurrence
    # aggregation.
    deg = (
        e.select(F.explode(F.array("va", "vb")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # COALESCE to 0: SUM over an empty degree table (graph with no
    # surviving edges) is NULL in both engines, but the honest count
    # is zero (caught by the brute-force property test)
    deg_stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.coalesce((F.sum("d") / 2).cast("bigint"), F.lit(0)).alias("n_edges"),
        F.coalesce(
            F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("bigint"), F.lit(0)
        ).alias("n_wedges"),
    )
    eo = _degree_orient(e, deg).localCheckpoint()
    e1, e2, e3 = eo.alias("e1"), eo.alias("e2"), eo.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.va") == F.col("e1.vb"))
        .join(
            e3,
            (F.col("e3.va") == F.col("e1.va")) & (F.col("e3.vb") == F.col("e2.vb")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        tri.crossJoin(F.broadcast(deg_stats))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                F.round(
                    F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 9
                )
                + F.lit(0.0),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
    )


@register(
    "q185_local_clustering",
    """
    WITH so AS (
      SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
    ),
    e AS (
      SELECT a.l_suppkey AS va, b.l_suppkey AS vb
      FROM so a JOIN so b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      GROUP BY a.l_suppkey, b.l_suppkey
      HAVING COUNT(*) >= 5
    ),
    deg AS (
      SELECT v, COUNT(*) AS d FROM (
        SELECT va AS v FROM e UNION ALL SELECT vb AS v FROM e
      ) GROUP BY v
    ),
    eo AS (
      SELECT CASE WHEN (da.d, e.va) < (db.d, e.vb) THEN e.va ELSE e.vb END AS va,
             CASE WHEN (da.d, e.va) < (db.d, e.vb) THEN e.vb ELSE e.va END AS vb
      FROM e JOIN deg da ON da.v = e.va JOIN deg db ON db.v = e.vb
    ),
    t AS (
      SELECT e1.va AS x, e1.vb AS y, e2.vb AS z
      FROM eo e1 JOIN eo e2 ON e2.va = e1.vb
                 JOIN eo e3 ON e3.va = e1.va AND e3.vb = e2.vb
    ),
    tv AS (
      SELECT v, COUNT(*) AS n_tri FROM (
        SELECT x AS v FROM t
        UNION ALL SELECT y AS v FROM t
        UNION ALL SELECT z AS v FROM t
      ) GROUP BY v
    )
    SELECT deg.v AS node, deg.d AS degree,
           COALESCE(tv.n_tri, 0) AS n_triangles,
           CASE WHEN deg.d >= 2
                THEN ROUND(2.0 * COALESCE(tv.n_tri, 0)
                           / (deg.d * (deg.d - 1)), 9) + 0.0
                ELSE 0.0 END AS local_clustering
    FROM deg LEFT JOIN tv ON tv.v = deg.v
    """,
)
def q185_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle counts + local clustering coefficient over
    the same degree-oriented supplier co-occurrence graph as q172 —
    the r4 verdict's stretch item 8 (groupBy instead of a global
    count; the per-node signal a community/anomaly pipeline feeds
    on). Each triangle found by the two-hop join credits all three
    of its vertices (one explode, one groupBy); the coefficient
    2*t(v)/(d(v)(d(v)-1)) is a single double division of exact
    integers, rounded and -0.0-normalized, so both engines agree
    bit-for-bit. Scale shape identical to q172: support-thresholded
    sparse edges, degree-ordered two-hop fanout, |V|-sized degree and
    triangle tables joined broadcast."""
    e = _cooccurrence_edges(spark, sf_dir, min_weight=5)  # shared with q172
    deg = (
        e.select(F.explode(F.array("va", "vb")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    eo = _degree_orient(e, deg).localCheckpoint()
    e1, e2, e3 = eo.alias("e1"), eo.alias("e2"), eo.alias("e3")
    tris = (
        e1.join(e2, F.col("e2.va") == F.col("e1.vb"))
        .join(
            e3,
            (F.col("e3.va") == F.col("e1.va"))
            & (F.col("e3.vb") == F.col("e2.vb")),
        )
        .select(
            F.explode(
                F.array(F.col("e1.va"), F.col("e1.vb"), F.col("e2.vb"))
            ).alias("v")
        )
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    d2 = F.col("d") * (F.col("d") - F.lit(1))
    return (
        deg.join(tris, "v", "left")
        .select(
            F.col("v").alias("node"),
            F.col("d").alias("degree"),
            F.coalesce(F.col("n_tri"), F.lit(0)).alias("n_triangles"),
            F.when(
                F.col("d") >= 2,
                F.round(
                    F.lit(2.0)
                    * F.coalesce(F.col("n_tri"), F.lit(0))
                    / d2.cast("double"),
                    9,
                )
                + F.lit(0.0),
            )
            .otherwise(F.lit(0.0))
            .alias("local_clustering"),
        )
    )


# --- profiling: Benford first-digit distribution -----------------------------


@register(
    "q173_benford_digits",
    """
    WITH d AS (
      SELECT CAST(SUBSTR(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                          AS VARCHAR), 1, 1) AS BIGINT) AS first_digit
      FROM orders
    ),
    obs AS (SELECT first_digit, COUNT(*) AS n FROM d GROUP BY first_digit),
    tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS t FROM obs)
    SELECT obs.first_digit, obs.n,
           ROUND(obs.n / tot.t, 6) AS obs_share,
           ROUND(LOG10(1 + 1.0 / obs.first_digit), 6) AS exp_share
    FROM obs CROSS JOIN tot
    """,
)
def q173_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law profile of order totals: observed vs expected
    first-significant-digit shares — the fraud/quality screen. The
    digit is extracted WITHOUT logs or float formatting: totalprice
    has exactly 2 decimals, so ROUND(x*100) is an unambiguous
    integer whose decimal string's first char is the digit (float
    log10-based extraction would risk boundary flips at powers of
    ten; float-to-string formatting differs across engines). The
    only libm call is the CONSTANT expected share log10(1+1/d),
    rounded at 6 digits — each of the nine values sits >= 9e-9 from
    its rounding boundary (checked d=1..9), 1e9 ulps of margin.
    Scale: single scan, 9-row aggregate, broadcast total."""
    o = load_table(spark, sf_dir, "orders")
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").cast("string"),
        1,
        1,
    ).cast("bigint")
    obs = o.select(digit.alias("first_digit")).groupBy("first_digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = obs.agg(F.sum("n").cast("double").alias("t"))
    return obs.crossJoin(F.broadcast(tot)).select(
        "first_digit",
        "n",
        F.round(F.col("n") / F.col("t"), 6).alias("obs_share"),
        F.round(F.log10(1 + 1.0 / F.col("first_digit")), 6).alias("exp_share"),
    )


# --- CDC apply with deletes (MERGE semantics over a change log) --------------


@register(
    "q174_cdc_apply",
    """
    WITH base AS (
      SELECT c_custkey AS key, c_acctbal AS bal, CAST(0 AS BIGINT) AS seq,
             'I' AS op
      FROM customer
    ),
    chg AS (
      SELECT CASE WHEN o_orderkey % 10 >= 8 THEN -(o_custkey + 1)
                  ELSE o_custkey END AS key,
             o_totalprice AS bal,
             CAST(o_orderkey + 1 AS BIGINT) AS seq,
             CASE WHEN o_orderkey % 10 < 6 THEN 'U'
                  WHEN o_orderkey % 10 < 8 THEN 'D'
                  ELSE 'I' END AS op
      FROM orders
    ),
    log AS (SELECT * FROM base UNION ALL SELECT * FROM chg),
    latest AS (
      SELECT key, bal, seq, op,
             ROW_NUMBER() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
      FROM log
    )
    SELECT key, bal, seq AS last_seq,
           CASE WHEN seq = 0 THEN 'base' ELSE 'chg' END AS src
    FROM latest WHERE rn = 1 AND op <> 'D'
    """,
)
def q174_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a CDC change log (inserts / updates / DELETES, ordered
    by sequence number) to a snapshot — full MERGE semantics, the
    missing sibling of q101 (upsert only) and q153 (diff only). The
    snapshot enters the log at seq 0; change rows at seq = orderkey
    + 1 (orderkeys START AT 0 in this corpus, so the +1 keeps every
    change seq strictly above the base's 0 — a seq tie would make
    the ROW_NUMBER pick nondeterministic); last-writer-wins resolves
    per key with one ROW_NUMBER window; keys whose LAST op is a delete
    drop out. The change log is synthesized deterministically from
    orders (op by orderkey mod; inserts mint fresh keys in the
    NEGATIVE range, -(custkey+1), which is disjoint from the base
    key space at EVERY scale factor — an additive offset would
    collide with real custkeys once the table outgrew it). Values
    pass through untouched (no arithmetic), so output is exact.
    Scale: ONE shuffle on key for the window; at 100 TB the same
    plan serves incremental table maintenance — union yesterday's
    compacted state with today's log partition and rewrite."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    base = c.select(
        F.col("c_custkey").alias("key"),
        F.col("c_acctbal").alias("bal"),
        F.lit(0).cast("bigint").alias("seq"),
        F.lit("I").alias("op"),
    )
    m = F.col("o_orderkey") % 10
    chg = o.select(
        F.when(m >= 8, -(F.col("o_custkey") + 1))
        .otherwise(F.col("o_custkey"))
        .alias("key"),
        F.col("o_totalprice").alias("bal"),
        (F.col("o_orderkey") + 1).cast("bigint").alias("seq"),
        F.when(m < 6, F.lit("U")).when(m < 8, F.lit("D")).otherwise(F.lit("I"))
        .alias("op"),
    )
    log = base.unionAll(chg)
    w = Window.partitionBy("key").orderBy(F.col("seq").desc())
    return (
        log.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(
            "key",
            "bal",
            F.col("seq").alias("last_seq"),
            F.when(F.col("seq") == 0, F.lit("base"))
            .otherwise(F.lit("chg"))
            .alias("src"),
        )
    )


# --- spatial: grid-bucketed radius join --------------------------------------


@register(
    "q175_grid_radius_join",
    """
    WITH cl AS (
      SELECT c_custkey,
             (c_custkey * 7919 % 2000) / 100.0 - 10.0 AS clat,
             (c_custkey * 104729 % 2000) / 100.0 - 10.0 AS clon
      FROM customer
    ),
    sl AS (
      SELECT s_suppkey,
             (s_suppkey * 6101 % 2000) / 100.0 - 10.0 AS slat,
             (s_suppkey * 9973 % 2000) / 100.0 - 10.0 AS slon
      FROM supplier
    )
    SELECT c.c_custkey, s.s_suppkey,
           (c.clat - s.slat) * (c.clat - s.slat)
             + (c.clon - s.slon) * (c.clon - s.slon) AS dist2
    FROM cl c JOIN sl s
      ON (c.clat - s.slat) * (c.clat - s.slat)
           + (c.clon - s.slon) * (c.clon - s.slon) < 0.25
    """,
)
def q175_grid_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius join between two point sets (customers, suppliers at
    deterministic synthetic coordinates): all pairs within distance
    0.5 degrees. The ORACLE spells the semantic — a theta join on
    the distance predicate (quadratic). The SPARK plan is the scale
    shape: bucket both sides into 1-degree grid cells, explode the
    SMALLER side to its 3x3 neighborhood, EQUI-join on cell id, then
    apply the exact distance cut — candidate generation is local to
    a cell neighborhood, never all-pairs (radius 0.5 < cell 1.0
    guarantees no miss). All coordinates derive from integer modular
    arithmetic followed by one division — bit-identical cross-
    engine, and the squared distance uses the SAME parenthesisation
    in both texts, so the boundary cut is IEEE-exact. Swap the
    metric for haversine and the cell for a geohash at real-world
    scale; the plan is unchanged."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    cl = c.select(
        "c_custkey",
        ((F.col("c_custkey") * 7919 % 2000) / 100.0 - 10.0).alias("clat"),
        ((F.col("c_custkey") * 104729 % 2000) / 100.0 - 10.0).alias("clon"),
    ).withColumns(
        {
            "cx": F.floor("clat").cast("int"),
            "cy": F.floor("clon").cast("int"),
        }
    )
    off = F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
    sl = (
        s.select(
            "s_suppkey",
            ((F.col("s_suppkey") * 6101 % 2000) / 100.0 - 10.0).alias("slat"),
            ((F.col("s_suppkey") * 9973 % 2000) / 100.0 - 10.0).alias("slon"),
        )
        .withColumn("dx", off)
        .withColumn("dy", off)
        .withColumns(
            {
                "cx": (F.floor("slat").cast("int") + F.col("dx")),
                "cy": (F.floor("slon").cast("int") + F.col("dy")),
            }
        )
    )
    dist2 = (F.col("clat") - F.col("slat")) * (F.col("clat") - F.col("slat")) + (
        F.col("clon") - F.col("slon")
    ) * (F.col("clon") - F.col("slon"))
    return (
        cl.join(F.broadcast(sl), ["cx", "cy"])
        .filter(dist2 < 0.25)
        .select("c_custkey", "s_suppkey", dist2.alias("dist2"))
    )


# --- marketing attribution: last-touch within lookback -----------------------


@register(
    "q176_last_touch_attribution",
    """
    WITH ev AS (
      SELECT user_id, event_id, ts, event_type, value,
             LAST_VALUE(CASE WHEN event_type = 'click' THEN epoch(ts) END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS last_click_sec
      FROM events WHERE event_type IN ('click', 'purchase')
    )
    SELECT user_id,
           COUNT(*) AS n_purchases,
           COUNT(CASE WHEN last_click_sec IS NOT NULL
                      AND epoch(ts) - last_click_sec <= 604800
                      THEN 1 END) AS n_attributed,
           CAST(SUM(CASE WHEN last_click_sec IS NOT NULL
                         AND epoch(ts) - last_click_sec <= 604800
                         THEN CAST(value AS DECIMAL(18,6))
                         ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
             AS attributed_rev
    FROM ev WHERE event_type = 'purchase'
    GROUP BY user_id
    """,
)
def q176_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credits the user's most
    recent PRECEDING click, provided it happened within a 7-day
    lookback — the marketing-analytics staple. One pass: an
    ignore-nulls LAST_VALUE window carries the latest click
    timestamp forward over the (ts, event_id)-ordered per-user
    stream (event_id breaks same-timestamp ties identically in both
    engines), then a per-user aggregate sums the attributed revenue
    (2-decimal values through the DECIMAL cast). A purchase whose
    own row precedes any click stays unattributed (NULL carry).
    Scale: one shuffle on user_id shared by the window AND the
    aggregate (same key, partitioning reused); no self-join of
    purchases against click history."""
    e = load_table(spark, sf_dir, "events")
    base = e.filter(F.col("event_type").isin("click", "purchase"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # full-precision epoch seconds (us/1e6, bit-identical to the
    # oracle's epoch()): unix_timestamp() TRUNCATES sub-second
    # fractions, and every driver event timestamp has them, so a
    # truncated lookback diff could flip the 7-day boundary vs the
    # oracle's fractional one.
    epoch_s = F.col("ts").cast("double")
    ev = base.withColumn(
        "last_click_sec",
        F.last(
            F.when(F.col("event_type") == "click", epoch_s),
            ignorenulls=True,
        ).over(w),
    )
    attributed = F.col("last_click_sec").isNotNull() & (
        epoch_s - F.col("last_click_sec") <= 604800
    )
    zero = F.lit(0).cast("decimal(18,6)")
    return (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.count(F.when(attributed, F.lit(1))).alias("n_attributed"),
            F.sum(
                F.when(attributed, F.col("value").cast("decimal(18,6)")).otherwise(
                    zero
                )
            )
            .cast("double")
            .alias("attributed_rev"),
        )
    )


# --- rolling correlation of two event series ---------------------------------


@register(
    "q177_rolling_correlation",
    """
    WITH daily AS (
      SELECT CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day,
             COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS nc,
             COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS nv
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY 1
    ),
    s AS (
      SELECT day, nc, nv,
             COUNT(*)    OVER w AS n,
             SUM(nc)     OVER w AS sx,
             SUM(nv)     OVER w AS sy,
             SUM(nc*nv)  OVER w AS sxy,
             SUM(nc*nc)  OVER w AS sxx,
             SUM(nv*nv)  OVER w AS syy
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT day, nc, nv, CAST(n AS BIGINT) AS n,
           CASE WHEN (n*sxx - sx*sx) > 0 AND (n*syy - sy*sy) > 0
                THEN ROUND((n*sxy - sx*sy) /
                     SQRT(CAST((n*sxx - sx*sx) AS DOUBLE)
                          * CAST((n*syy - sy*sy) AS DOUBLE)), 9) + 0.0
                ELSE CAST(NULL AS DOUBLE) END AS roll_corr
    FROM s
    """,
)
def q177_rolling_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day Pearson correlation between the daily click and
    view counts. Rather than a windowed corr() (whose internal
    accumulation order is engine-specific), the five sufficient
    statistics ride as INTEGER window sums (counts and products of
    counts — exact below 2^53), and the correlation assembles from
    them in one deterministic sqrt + divide, rounded and -0.0-
    normalized; degenerate frames (zero variance) yield NULL in both
    engines. Scale: the daily rollup reduces the stream to one row
    per day BEFORE the window, so the window input is tiny; a keyed
    variant would partition by entity with the same frame."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.filter(F.col("event_type").isin("click", "view"))
        .groupBy(
            # truncation-safe: floor(floor(x)/n) == floor(x/n) for
            # positive x and integer n, so unix_timestamp's dropped
            # sub-second fraction cannot move the day bucket vs the
            # oracle's fractional epoch()
            F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("day")
        )
        .agg(
            F.count(F.when(F.col("event_type") == "click", F.lit(1))).alias("nc"),
            F.count(F.when(F.col("event_type") == "view", F.lit(1))).alias("nv"),
        )
    )
    w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    s = daily.select(
        "day",
        "nc",
        "nv",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("nc").over(w).alias("sx"),
        F.sum("nv").over(w).alias("sy"),
        F.sum(F.col("nc") * F.col("nv")).over(w).alias("sxy"),
        F.sum(F.col("nc") * F.col("nc")).over(w).alias("sxx"),
        F.sum(F.col("nv") * F.col("nv")).over(w).alias("syy"),
    )
    dx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return s.select(
        "day",
        "nc",
        "nv",
        F.col("n").cast("bigint").alias("n"),
        F.when(
            (dx > 0) & (dy > 0),
            F.round(
                num / F.sqrt(dx.cast("double") * dy.cast("double")), 9
            )
            + F.lit(0.0),
        )
        .otherwise(F.lit(None).cast("double"))
        .alias("roll_corr"),
    )


# --- Pareto frontier (skyline) -----------------------------------------------


@register(
    "q178_pareto_frontier",
    """
    WITH pts AS (
      SELECT p_partkey, CAST(ROUND(p_retailprice * 100) AS BIGINT) AS price_c,
             CAST(p_size AS BIGINT) AS size
      FROM part
    )
    SELECT p.p_partkey, p.price_c, p.size
    FROM pts p
    WHERE NOT EXISTS (
      SELECT 1 FROM pts q
      WHERE q.price_c <= p.price_c AND q.size <= p.size
        AND (q.price_c < p.price_c OR q.size < p.size)
    )
    ORDER BY p.price_c, p.size, p.p_partkey
    """,
)
def q178_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto frontier: parts not dominated on (price,
    size) — q is better-or-equal on both axes and strictly better on
    one. The ORACLE is the textbook quadratic NOT EXISTS; the SPARK
    plan is the O(n log n) window form: over price-cents order,
    dominated(a) = MIN(size) among STRICTLY cheaper rows <= my size
    (RANGE .. 1 PRECEDING), dominated(b) = MIN(size) among
    price-<=-rows < my size (RANGE .. CURRENT ROW); frontier =
    neither. Prices are compared as integer CENTS (ROUND(x*100) —
    exact for 2-decimal money), because a RANGE frame offset on raw
    doubles would put epsilon-boundary rows in different frames
    across engines. Scale: a global range-ordered window (range-
    partitioned total sort); for massive n, pre-prune per partition
    (a point dominated within its partition is dominated globally)
    then run the window on survivors."""
    p = load_table(spark, sf_dir, "part")
    pts = p.select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100, 0).cast("bigint").alias("price_c"),
        F.col("p_size").cast("bigint").alias("size"),
    )
    w_strict = Window.orderBy("price_c").rangeBetween(
        Window.unboundedPreceding, -1
    )
    w_incl = Window.orderBy("price_c").rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    flagged = pts.select(
        "p_partkey",
        "price_c",
        "size",
        F.min("size").over(w_strict).alias("m_strict"),
        F.min("size").over(w_incl).alias("m_incl"),
    )
    dominated = (
        F.col("m_strict").isNotNull() & (F.col("m_strict") <= F.col("size"))
    ) | (F.col("m_incl") < F.col("size"))
    return (
        flagged.filter(~dominated)
        .select("p_partkey", "price_c", "size")
        .orderBy("price_c", "size", "p_partkey")
    )


# --- ordered string aggregation ----------------------------------------------


@register(
    "q179_ordered_stringagg",
    """
    WITH ranked AS (
      SELECT c_nationkey, c_name,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer
    )
    SELECT n.n_name, string_agg(r.c_name, ',' ORDER BY r.rn) AS top_names,
           COUNT(*) AS n_top
    FROM ranked r JOIN nation n ON n.n_nationkey = r.c_nationkey
    WHERE r.rn <= 5
    GROUP BY n.n_name
    """,
)
def q179_ordered_stringagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER-sensitive string aggregation (LISTAGG/string_agg): the
    top-5 customers per nation by balance, comma-joined in rank
    order. Spark has no ordered collect across partitions, so the
    deterministic spelling is collect_list of (rank, name) STRUCTS
    -> array_sort (struct order = field order, rank first) ->
    transform to names -> array_join — same string regardless of
    partitioning. Rank ties break on custkey, so the oracle's
    string_agg(ORDER BY rn) emits the identical sequence. Scale:
    the rank window and the group-by share the nationkey shuffle;
    collect_list is bounded at 5 elements per group by the rank
    filter BEFORE aggregation."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    wr = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), "c_custkey"
    )
    ranked = c.withColumn("rn", F.row_number().over(wr)).filter(F.col("rn") <= 5)
    return (
        ranked.join(F.broadcast(n), ranked.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", "c_name"))),
                    lambda x: x.c_name,
                ),
                ",",
            ).alias("top_names"),
            F.count(F.lit(1)).alias("n_top"),
        )
    )


# --- streaming CDC upsert ----------------------------------------------------


@register(
    "q180_stream_cdc_upsert",
    """
    WITH ranked AS (
      SELECT user_id AS key, value AS bal,
             epoch_us(ts) / 1000000.0 AS seq_ts,
             event_id AS seq_id,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts) DESC, event_id DESC)
               AS rn
      FROM events
    )
    SELECT key, bal, seq_ts, seq_id FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
)
def q180_stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q174: the event feed consumed as a CDC
    change log (error → delete, other types → upsert) through a
    checkpointed foreachBatch into versioned table snapshots;
    returns the final committed state. UPGRADED r8 from rows-only to
    a FULL hash oracle: per-batch last-writer-wins MERGE composes
    associatively, so the final snapshot over any batching of the
    feed equals ONE global last-writer-wins fold — a key survives
    iff its latest change (full-precision ts, event_id tiebreak) is
    not a delete, carrying that change's value. The oracle replays
    that fold, including Spark's timestamp→double conversion
    (epoch MICROsecond truncation, then one IEEE division by 1e6 —
    ordering in the oracle uses the truncated integer so sub-µs
    raw-parquet digits can't split a tie Spark sees). The
    restart/replay guarantees stay pinned in tests/test_stream_cdc.py
    (same-checkpoint restart adds no version; a replayed batch is
    bit-identical)."""
    import hashlib
    import os
    import shutil
    import tempfile

    from patientdataintegration_spark.streaming.sinks import (
        current_cdc_state,
        stream_cdc_upsert,
    )

    # fixed per-corpus work dir, WIPED each invocation: the query
    # re-runs the stream from scratch by design, and a per-call
    # mkdtemp would accumulate a directory per gate/bench run
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    base = os.path.join(tempfile.gettempdir(), f"pdi_q180_cdc_{tag}")
    shutil.rmtree(base, ignore_errors=True)
    q = stream_cdc_upsert(spark, sf_dir, f"{base}/table", f"{base}/ckpt")
    q.awaitTermination()
    return current_cdc_state(spark, f"{base}/table")


# --- video modality lane (pandas-UDF binary lane) ----------------------------


def _q181_sql() -> str:
    """Closed-form frame replay: sampled frame indices are
    {0, 2, 4} below n_frames = 2 + k%4 (every_n=2, max_frames=4);
    each frame's gray 24-bit pixels are (k*31 + f*17 + y*5 + x*3)
    % 256 over the 8x6 plane, so mean_intensity = 3*pixel_sum/144
    with ONE division — replayed with the decoder's arithmetic; the
    per-video average rides per-frame round(9) + DECIMAL sums (the
    q104 discipline)."""
    psum = (
        "list_sum(flatten(list_transform(range(0, 6), y -> "
        "list_transform(range(0, 8), x -> "
        "(k * 31 + fi * 17 + y * 5 + x * 3) % 256))))"
    )
    return f"""
    WITH f AS (
      SELECT p_partkey AS k, 2 + (p_partkey % 4) AS nf FROM part
    ),
    fr AS (
      SELECT k, unnest(list_filter([0, 2, 4], v -> v < nf)) AS fi
      FROM f
    ),
    m AS (
      SELECT k, fi,
             CAST(3 * {psum} AS DOUBLE) / 144.0 AS mi
      FROM fr
    )
    SELECT concat('/synthetic/video/', k, '.avi') AS path,
           CAST(COUNT(*) AS BIGINT) AS n_sampled_frames,
           round(CAST(SUM(CAST(round(mi, 9) AS DECIMAL(28,12)))
                      AS DOUBLE) / COUNT(*), 6) AS avg_intensity,
           CAST(8 AS INTEGER) AS width, CAST(6 AS INTEGER) AS height
    FROM m GROUP BY k
    """


@register("q181_video_frames", _q181_sql())
def q181_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video modality end-to-end with REAL decode: deterministic
    uncompressed AVI containers (synthetic_avis over the part table)
    through the REAL RIFF/AVI chunk-walk parser and REAL 24-bit DIB
    pixel decode (`video_frame_features` — every-2nd frame sampled
    BELOW the decode, the reference's tile-sampling pushdown
    (`dataset_classes_v1.py` sampling-before-load) applied to the
    temporal axis), aggregated per video: frame count, mean of the
    per-frame REAL pixel intensities. UPGRADED r6 to a full hash
    oracle (the q104/q205/q206 closed-form pattern): pixels are a
    pure function of (key, frame, y, x) and every per-frame mean is
    one exact integer sum + one division, so DuckDB replays the
    sampled-frame statistics arithmetically while Spark round-trips
    real AVI containers through the real RIFF walk + DIB decode —
    chunk offsets, bottom-up row flips, BGR ordering, and the
    sampling predicate are all value-pinned. pytest additionally
    pins hand-computed per-frame means and the metadata roundtrip."""
    from patientdataintegration_spark.operators.multimodal import (
        synthetic_avis,
        video_frame_features,
    )

    p = load_table(spark, sf_dir, "part")
    avis = synthetic_avis(p, "p_partkey")
    frames = video_frame_features(avis, every_n=2, max_frames=4)
    return frames.groupBy("path").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sampled_frames"),
        # per-frame means round at 9 then sum as DECIMAL (the q104
        # discipline) so the <=3-frame accumulation order never
        # reaches the hash
        F.round(
            F.sum(
                F.round(F.col("mean_intensity"), 9).cast("decimal(28,12)")
            ).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_intensity"),
        F.max("width").alias("width"),
        F.max("height").alias("height"),
    )


# --- Python UDTF + LATERAL join lane -----------------------------------------


from patientdataintegration_spark.suite.ext import (  # noqa: E402
    CHUNKING_ORACLE_SQL as _CHUNKING_ORACLE_SQL,
)


@register("q182_udtf_chunking", _CHUNKING_ORACLE_SQL)
def q182_udtf_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark 4 Python-UDTF surface: per-row TABLE function
    consumed via a LATERAL join — one document row fans out to its
    chunk relation inside the UDTF (`functions/udtfs.ChunkTextUDTF`),
    the reference's `__getitem__` one-row-to-many micro-pipeline
    shape (`dataset_classes_v1.py`). Semantics are bit-compatible
    with the native-Column q81 chunker, so this lane shares q81's
    hash-exact oracle — proving the UDTF path computes EXACTLY what
    the codegen path computes. Scale stance: UDTFs are the Python
    row path (Arrow-batched transport, per-row Python execution) —
    registered as API-surface proof; q81 remains the production
    chunker."""
    from patientdataintegration_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "udtf_docs_src"
    )
    return spark.sql(
        "SELECT c.doc_id, c.chunk_id, c.chunk_text, c.n_chunk_tokens "
        "FROM udtf_docs_src, LATERAL chunk_text(doc_id, text) c"
    )


# --- hierarchical percent-of-parent shares -----------------------------------


@register(
    "q183_hierarchical_shares",
    """
    WITH base AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS dval
      FROM customer c
      JOIN orders o ON o.o_custkey = c.c_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY r.r_name, n.n_name
    ),
    lv AS (
      SELECT region, nation, CAST(dval AS DOUBLE) AS val,
             CAST(SUM(dval) OVER (PARTITION BY region) AS DOUBLE) AS region_val,
             CAST(SUM(dval) OVER () AS DOUBLE) AS total_val
      FROM base
    )
    SELECT region, nation, val,
           ROUND(val / region_val, 9) + 0.0 AS share_of_region,
           ROUND(region_val / total_val, 9) + 0.0 AS region_share_of_total
    FROM lv
    """,
)
def q183_hierarchical_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent at two hierarchy levels (nation within
    region, region within grand total) from ONE aggregation: the
    leaf-level decimal sums stay DECIMAL through both window
    re-aggregations (region partition and global frame), so every
    numerator/denominator is exact and the two share ratios are one
    deterministic division each, rounded and -0.0-normalized. Scale:
    one shuffle for the leaf group-by; the window re-aggregations
    run over the TINY leaf table (|nations| rows), not the fact
    table — the classic 'aggregate once, window the aggregate'
    discipline (never window the fact table for subtotals)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    base = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("dval"))
    )
    w_region = Window.partitionBy("region")
    w_all = Window.partitionBy()
    lv = base.select(
        "region",
        "nation",
        F.col("dval").cast("double").alias("val"),
        F.sum("dval").over(w_region).cast("double").alias("region_val"),
        F.sum("dval").over(w_all).cast("double").alias("total_val"),
    )
    return lv.select(
        "region",
        "nation",
        "val",
        (F.round(F.col("val") / F.col("region_val"), 9) + F.lit(0.0)).alias(
            "share_of_region"
        ),
        (
            F.round(F.col("region_val") / F.col("total_val"), 9) + F.lit(0.0)
        ).alias("region_share_of_total"),
    )


# --- top session paths -------------------------------------------------------


@register(
    "q184_top_session_paths",
    """
    WITH ev AS (
      SELECT user_id, event_id, event_type, epoch(ts) AS sec
      FROM events
    ),
    s AS (
      SELECT user_id, event_id, event_type, sec,
             CASE WHEN sec - LAG(sec) OVER w > 1800 OR
                       LAG(sec) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
    ),
    sess AS (
      SELECT user_id, event_id, event_type, sec,
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY sec, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_id
      FROM s
    ),
    paths AS (
      SELECT user_id, session_id,
             string_agg(event_type, '>' ORDER BY sec, event_id) AS path
      FROM sess GROUP BY user_id, session_id
    )
    SELECT path, COUNT(*) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT 20
    """,
)
def q184_top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 full session journeys: 30-minute-gap sessionization
    (the q42 discipline — integer-cast windowed SUM for session ids)
    -> each session's ORDERED event-type path as one string (the
    q179 ordered-aggregation discipline: collect (order-key, value)
    structs, array_sort, join) -> path frequency ranking. Epoch
    seconds ride FULL-precision (`ts AS DOUBLE`, the oracle's
    epoch()): the gap comparison must not truncate sub-second
    fractions (q176 lesson). Scale: both windows and the path
    aggregation share ONE user_id shuffle; the path table is
    |sessions|-sized; top-20 is a TakeOrdered with the path string
    as deterministic tiebreak."""
    e = load_table(spark, sf_dir, "events")
    sec = F.col("ts").cast("double")
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    ev = e.select("user_id", "event_id", "event_type", sec.alias("sec"))
    s = ev.withColumn(
        "new_s",
        F.when(
            (F.col("sec") - F.lag("sec").over(w) > 1800)
            | F.lag("sec").over(w).isNull(),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    sess = s.withColumn(
        "session_id",
        F.sum("new_s")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint"),
    )
    paths = sess.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("sec", "event_id", "event_type"))
                ),
                lambda x: x.event_type,
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(20)
    )
