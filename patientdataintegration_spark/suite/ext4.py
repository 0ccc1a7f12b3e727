"""Round-5 batch: training-data-pipeline analytics the registry did
not yet exercise — market-basket association rules, k-anonymity
auditing, BPE-style adjacent-pair counting, k-core peeling, MinHash
estimation-error measurement, and a bigram-LM surprisal gate
(q186-q191).

Same exactness contract as `suite/core.py`: every derived double is
either a single IEEE operation on exact integers (one division, one
multiply-divide with identical parenthesisation in both engines) or
a libm value rounded at 6 digits and summed as DECIMAL (the q82
discipline); counts are exact bigints; LIMIT prefixes carry a
provably unique ORDER BY.

Scale stance (100 TB): pair generation is always per-key bounded
(per-order line counts, per-document adjacency) and support-
thresholded before any wide shuffle; iterative peeling unrolls a
fixed round count as pure dataflow (the q130 discipline); nothing
collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from patientdataintegration_spark.sources.catalog import load_table
from patientdataintegration_spark.suite.ext import (
    HEX_HASH_SQL,
    NGRAM_SH_SQL,
    _lsh_pairs_sql,
    _minhash_sql,
)
from patientdataintegration_spark.suite.registry import register


# --- market-basket association rules -----------------------------------------


@register(
    "q186_market_basket",
    """
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n_ord AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items),
    supp AS (
      SELECT l_partkey, COUNT(*) AS n_item FROM items GROUP BY l_partkey
    ),
    pair AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             COUNT(*) AS n_ab
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING COUNT(*) >= 3
    )
    SELECT p.part_a, p.part_b, p.n_ab,
           sa.n_item AS n_a, sb.n_item AS n_b,
           CAST(p.n_ab AS DOUBLE) / CAST(sa.n_item AS DOUBLE) AS confidence,
           CAST(p.n_ab * n_ord.n_orders AS DOUBLE)
             / CAST(sa.n_item * sb.n_item AS DOUBLE) AS lift
    FROM pair p
    JOIN supp sa ON sa.l_partkey = p.part_a
    JOIN supp sb ON sb.l_partkey = p.part_b
    CROSS JOIN n_ord
    """,
)
def q186_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over parts co-purchased in one order —
    support / confidence / lift, the market-basket signal a corpus
    curation pipeline uses for co-occurrence mining. Pair generation
    is per-order bounded (TPC-H orders carry <= 7 lines, so the
    explode is C(7,2) per key, never corpus-quadratic) and support-
    thresholded (n_ab >= 3) BEFORE the metric joins; item supports
    join back on single part keys; the 1-row order count broadcasts.
    confidence = n_ab/n_a and lift = (n_ab*N)/(n_a*n_b) are each one
    IEEE division of exact bigint products — identical
    parenthesisation in both engines, so raw doubles hash equal."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    n_ord = items.agg(
        F.count_distinct("l_orderkey").alias("n_orders")
    )
    supp = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_item"))
    a, b = items.alias("a"), items.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    sa = supp.select(
        F.col("l_partkey").alias("_ka"), F.col("n_item").alias("n_a")
    )
    sb = supp.select(
        F.col("l_partkey").alias("_kb"), F.col("n_item").alias("n_b")
    )
    return (
        pair.join(sa, F.col("part_a") == F.col("_ka"))
        .join(sb, F.col("part_b") == F.col("_kb"))
        .crossJoin(F.broadcast(n_ord))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            "n_a",
            "n_b",
            (
                F.col("n_ab").cast("double") / F.col("n_a").cast("double")
            ).alias("confidence"),
            (
                (F.col("n_ab") * F.col("n_orders")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
        )
    )


# --- k-anonymity audit -------------------------------------------------------


@register(
    "q187_k_anonymity",
    """
    WITH qi AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
             COUNT(*) AS group_size
      FROM customer
      GROUP BY c_nationkey, c_mktsegment,
               CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT)
    )
    SELECT c_nationkey, c_mktsegment, bal_band, group_size
    FROM qi WHERE group_size < 5
    """,
)
def q187_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (k=5) over the quasi-identifier triple
    (nation, market segment, $1000 balance band): every group a
    release would have to suppress or generalize. The governance
    gate a patient-data or training-data export pipeline runs before
    publishing — the reference's cohort tables face exactly this
    class of re-identification review. One scan, one groupBy on the
    QI key, a post-aggregation filter; at 100 TB the QI cardinality
    (25 x 5 x ~20 bands) keeps the reduce side trivial. bal_band
    floors a DOUBLE/1000 — exact for the 2-decimal balances, same
    expression both engines."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000.0).cast("bigint").alias("bal_band"),
        )
        .agg(F.count(F.lit(1)).alias("group_size"))
        .filter(F.col("group_size") < 5)
    )


# --- BPE-style adjacent-pair counting ----------------------------------------

def _adjacent_pairs(tk):
    """Space-joined adjacent token pairs WITH multiplicity. The
    single-token guard matters: Spark's `sequence(1, 0)` generates a
    DESCENDING [1, 0] (not an empty sequence like DuckDB's
    `range(1, 1)`), which would index past the array — caught by the
    hand-computed multiplicity test. The token array is bound as a
    lambda variable first (the `word_shingles` trick) so the split
    runs once per document, not once per pair."""

    def pairs_of(t):
        idx = F.sequence(F.lit(1), F.size(t) - 1)
        return F.when(
            F.size(t) >= 2,
            F.transform(
                idx,
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(t, i.cast("int")),
                    F.element_at(t, (i + 1).cast("int")),
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.element_at(F.transform(F.array(tk), pairs_of), 1)




@register(
    "q188_bpe_pair_counts",
    """
    WITH t AS (
      SELECT string_split(lower(trim(text)), ' ') AS tk FROM documents
    ),
    p AS (
      SELECT unnest(list_transform(range(1, len(tk)),
                    i -> concat_ws(' ', tk[i], tk[i+1]))) AS pair
      FROM t WHERE len(tk) >= 2
    )
    SELECT pair, COUNT(*) AS n
    FROM p GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 50
    """,
)
def q188_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE merge round over the corpus: adjacent token-pair
    frequencies WITH multiplicity (unlike the shingle lanes, which
    dedup within document — a byte-pair-encoding trainer counts
    every occurrence), top-50 merge candidates. Tokens contain no
    spaces by construction (they are split on space), so the pair is
    a collision-free space-joined string — one column for both
    engines, no struct plumbing. ORDER BY (n DESC, pair) is a unique
    ordering because pair is the group key. Scale: the explode is
    per-document bounded (len-1 pairs), the count map-side combines,
    and the top-50 is a TakeOrdered — no global sort materializes."""
    d = load_table(spark, sf_dir, "documents")
    tk = F.split(F.lower(F.trim(F.col("text"))), " ")
    pairs_of = _adjacent_pairs(tk)
    return (
        d.select(pairs_of.alias("prs"))
        .filter(F.size("prs") >= 1)
        .select(F.explode("prs").alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(50)
    )


# --- k-core peeling ----------------------------------------------------------

_KCORE_EDGE_SQL = """
    so AS (
      SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
    ),
    e0 AS (
      SELECT a.l_suppkey AS va, b.l_suppkey AS vb
      FROM so a JOIN so b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      GROUP BY a.l_suppkey, b.l_suppkey
      HAVING COUNT(*) >= 3
    )
"""


def _kcore_round_sql(i: int, k: int) -> str:
    return f"""
    d{i} AS (
      SELECT v, COUNT(*) AS d FROM (
        SELECT va AS v FROM e{i} UNION ALL SELECT vb AS v FROM e{i}
      ) GROUP BY v
    ),
    keep{i} AS (SELECT v FROM d{i} WHERE d >= {k}),
    e{i + 1} AS (
      SELECT va, vb FROM e{i}
      WHERE va IN (SELECT v FROM keep{i})
        AND vb IN (SELECT v FROM keep{i})
    )"""


@register(
    "q189_kcore",
    "WITH "
    + _KCORE_EDGE_SQL
    + ","
    + ",".join(_kcore_round_sql(i, 3) for i in range(3))
    + """
    SELECT v AS node, d AS degree FROM (
      SELECT v, COUNT(*) AS d FROM (
        SELECT va AS v FROM e3 UNION ALL SELECT vb AS v FROM e3
      ) GROUP BY v
    )
    """,
)
def q189_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round k-core peel (k=3) of the supplier co-occurrence graph
    (edge = >= 3 shared orders): repeatedly drop vertices of degree
    < k and the edges they carry — the community-core extraction
    step of a dedup/influence pipeline. Fixed-round unrolled
    dataflow, the q130 discipline: each round is one degree
    aggregation + two semi joins back onto the shrinking edge set
    (strictly monotone, so round r's edge relation is never larger
    than round r-1's), and each round's edge set is localCheckpoint-
    materialized (the q115 large/small-star discipline) — without it
    the edge lineage re-executes ~3x per round and the unrolled plan
    carries 100+ static shuffle boundaries; with it, each round is a
    constant ~3 shuffles over an already-materialized relation.
    Convergence detection at 100 TB would wrap the same body in the
    q115 loop pattern with a count-delta stop. Output: surviving
    vertices with their degree inside the 3-times-peeled subgraph —
    exact integers."""
    from patientdataintegration_spark.suite.ext3 import _cooccurrence_edges

    e = _cooccurrence_edges(spark, sf_dir, min_weight=3)

    def degrees(edges: DataFrame) -> DataFrame:
        return (
            edges.select(F.explode(F.array("va", "vb")).alias("v"))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("d"))
        )

    for _ in range(3):
        keep = degrees(e).filter(F.col("d") >= 3).select("v")
        e = e.join(
            keep.withColumnRenamed("v", "va"), "va", "left_semi"
        ).join(
            keep.withColumnRenamed("v", "vb"), "vb", "left_semi"
        ).localCheckpoint()
    return degrees(e).select(F.col("v").alias("node"), F.col("d").alias("degree"))


# --- MinHash estimation error ------------------------------------------------

_MH_EQ_SQL = " + ".join(
    f"(CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END)" for i in range(8)
)


@register(
    "q190_minhash_error",
    f"""
    WITH pairs AS ({_lsh_pairs_sql()}),
    sig AS ({_minhash_sql()}),
    {NGRAM_SH_SQL.strip().lstrip()},
    hashed AS (
      SELECT doc_id, {HEX_HASH_SQL.format(col="shingle")} AS h FROM sh
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM hashed GROUP BY doc_id),
    inter AS (
      SELECT p.doc_a, p.doc_b, COUNT(*) AS n_common
      FROM pairs p
      JOIN hashed x ON x.doc_id = p.doc_a
      JOIN hashed y ON y.doc_id = p.doc_b AND y.h = x.h
      GROUP BY p.doc_a, p.doc_b
    )
    SELECT p.doc_a, p.doc_b,
           CAST({_MH_EQ_SQL} AS DOUBLE) / 8.0 AS est_jaccard,
           CAST(COALESCE(i.n_common, 0) AS DOUBLE)
             / CAST(za.n_sh + zb.n_sh - COALESCE(i.n_common, 0) AS DOUBLE)
             AS exact_jaccard,
           ABS(CAST({_MH_EQ_SQL} AS DOUBLE) / 8.0
               - CAST(COALESCE(i.n_common, 0) AS DOUBLE)
                 / CAST(za.n_sh + zb.n_sh - COALESCE(i.n_common, 0) AS DOUBLE))
             AS abs_err
    FROM pairs p
    JOIN sig sa ON sa.doc_id = p.doc_a
    JOIN sig sb ON sb.doc_id = p.doc_b
    JOIN sizes za ON za.doc_id = p.doc_a
    JOIN sizes zb ON zb.doc_id = p.doc_b
    LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
    """,
)
def q190_minhash_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality measurement: for every LSH candidate pair, the
    MinHash-estimated Jaccard (matching components / 8) against the
    EXACT shingle-set Jaccard, with the absolute error — the query a
    pipeline owner runs before trusting a sketch parameterization at
    corpus scale. Everything is md5-derived integer arithmetic (q34's
    signatures, q33's shingle hashes), so the estimate, the exact
    value (one IEEE division of bigints) and their difference are
    bit-identical cross-engine with NO rounding. Scale: intersections
    are computed only for candidate pairs (pairs ⋈ shingles fans out
    by per-doc shingle count, bounded by document length), never
    all-pairs; signature and size lookups are single-key joins."""
    from patientdataintegration_spark.operators.dedup import (
        minhash_signatures,
        shingle_table,
    )
    from patientdataintegration_spark.suite.ext import cached_lsh_pairs

    d = load_table(spark, sf_dir, "documents")
    sh = shingle_table(d)
    # pairs come from the shared content-keyed cache (one LSH
    # producer run per corpus, shared with q92/q130/q138); sigs feed
    # both per-side lookups, so localCheckpoint the per-doc signature
    # table (tiny — 8 longs per doc) so the shingle explode + minhash
    # aggregation runs once, not twice
    sigs = minhash_signatures(sh).localCheckpoint()
    pairs = cached_lsh_pairs(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))

    xa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingle_hash").alias("ha"))
    xb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingle_hash").alias("hb"))
    inter = (
        pairs.join(xa, "doc_a")
        .join(xb, ["doc_b"])
        .filter(F.col("ha") == F.col("hb"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(8)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(8)],
    )
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))

    n_eq = sum(
        F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0)
        for i in range(8)
    )
    n_common = F.coalesce(F.col("n_common"), F.lit(0))
    est = n_eq.cast("double") / F.lit(8.0)
    exact = n_common.cast("double") / (
        (F.col("na") + F.col("nb") - n_common).cast("double")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .join(za, "doc_a")
        .join(zb, "doc_b")
        .join(inter, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            est.alias("est_jaccard"),
            exact.alias("exact_jaccard"),
            F.abs(est - exact).alias("abs_err"),
        )
    )


# --- bigram-LM surprisal -----------------------------------------------------


@register(
    "q191_bigram_surprisal",
    """
    WITH t AS (
      SELECT doc_id, string_split(lower(trim(text)), ' ') AS tk FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(tk)),
                    i -> concat_ws(' ', tk[i], tk[i+1]))) AS bigram
      FROM t WHERE len(tk) >= 2
    ),
    c2 AS (SELECT bigram, COUNT(*) AS n2 FROM bg GROUP BY bigram),
    c1 AS (
      SELECT string_split(bigram, ' ')[1] AS w1, SUM(n2) AS n1
      FROM c2 GROUP BY string_split(bigram, ' ')[1]
    )
    SELECT bg.doc_id,
           COUNT(*) AS n_bigrams,
           round(CAST(SUM(CAST(round(ln(n2 / n1), 6) AS DECIMAL(28,12)))
                 AS DOUBLE) / COUNT(*), 6) AS avg_logprob
    FROM bg
    JOIN c2 USING (bigram)
    JOIN c1 ON c1.w1 = string_split(bigram, ' ')[1]
    GROUP BY bg.doc_id
    """,
)
def q191_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM surprisal per document: mean corpus log-probability
    of each document's adjacent-token bigrams under the maximum-
    likelihood bigram model P(w2|w1) = c(w1 w2)/c(w1 ·) — the
    stronger form of the q82 unigram quality gate (catches shuffled
    or templated text a unigram model scores as fluent). Exactness is
    the q82 discipline verbatim: per-bigram ln is rounded at 6 digits
    THEN summed as DECIMAL(28,12) (order-independent across
    partitionings and engines), divided by an exact count, rounded.
    Scale: two map-combined counting passes over the bigram explode
    plus two key joins back; the model tables are vocabulary-sized,
    not corpus-sized."""
    d = load_table(spark, sf_dir, "documents")
    tk = F.split(F.lower(F.trim(F.col("text"))), " ")
    bigrams_of = _adjacent_pairs(tk)
    bg = (
        d.select("doc_id", bigrams_of.alias("bgs"))
        .filter(F.size("bgs") >= 1)
        .select("doc_id", F.explode("bgs").alias("bigram"))
    )
    c2 = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("n2"))
    w1_of = F.element_at(F.split(F.col("bigram"), " "), 1)
    c1 = c2.groupBy(w1_of.alias("w1")).agg(F.sum("n2").alias("n1"))
    logp = F.round(
        F.log(F.col("n2").cast("double") / F.col("n1").cast("double")), 6
    ).cast("decimal(28,12)")
    return (
        bg.join(c2, "bigram")
        .join(c1, w1_of == F.col("w1"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum(logp).cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_logprob"),
        )
    )


# --- signed random projection (SRP / dense-vector SimHash) -------------------

_SRP_K = 8
_SRP_DIMS = 64


def _srp_signs(k: int = _SRP_K, dims: int = _SRP_DIMS) -> list[list[int]]:
    """The k x dims +/-1 hyperplane matrix, derived from md5 parity of
    f"{j}_{d}" — no RNG state, so the driver generates IDENTICAL
    literals into the Spark expression and the DuckDB oracle (the
    minhash_params precedent)."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"{j}_{d}".encode()).hexdigest()[:14], 16) % 2
            == 0
            else -1
            for d in range(dims)
        ]
        for j in range(k)
    ]


def _srp_sql() -> str:
    signs = _srp_signs()
    projs = []
    for j in range(_SRP_K):
        lit = "[" + ", ".join(str(v) for v in signs[j]) + "]"
        projs.append(
            f"list_reduce(list_transform(range(1, len(embedding) + 1), "
            f"i -> CAST(embedding[i] AS DOUBLE) * ({lit})[i]), "
            f"(x, y) -> x + y) AS p{j}"
        )
    sig = " + ".join(
        f"(CASE WHEN p{j} >= 0 THEN CAST(POW(2, {j}) AS BIGINT) ELSE 0 END)"
        for j in range(_SRP_K)
    )
    cols = ", ".join(f"p{j}" for j in range(_SRP_K))
    projs_sql = ",\n             ".join(projs)
    return f"""
    WITH proj AS (
      SELECT vec_id,
             {projs_sql}
      FROM embeddings
    )
    SELECT vec_id, {cols}, CAST({sig} AS BIGINT) AS srp_sig
    FROM proj
    """


@register("q192_random_projection", _srp_sql())
def q192_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed random projection — the SimHash of dense embeddings:
    project each vector onto k=8 deterministic +/-1 hyperplanes
    (sign(j,d) = md5-parity of f"{j}_{d}", generated as identical
    literals into both engines) and pack the projection signs into an
    LSH signature. A signature bit collides with probability
    1 - theta/pi — the standard cosine-LSH bound — making this the
    bucketing primitive for similarity search at 100 TB. Exactness is
    the q36 discipline: each projection is a SEQUENTIAL left-to-right
    fold over the array in index order (`aggregate` / `list_reduce`
    evaluate identically), so the raw doubles are bit-identical
    cross-engine with no rounding and no decimal detour. Scale shape:
    the entire operator is per-row codegen on one scan — ZERO
    shuffles, no joins, no explode; the 64 x 8 sign matrix lives in
    the expression tree."""
    e = load_table(spark, sf_dir, "embeddings")
    signs = _srp_signs()
    out_cols = [F.col("vec_id")]
    for j in range(_SRP_K):
        sgn = F.array(*[F.lit(float(v)) for v in signs[j]])
        p = F.aggregate(
            F.zip_with(
                F.col("embedding"),
                sgn,
                lambda x, s: x.cast("double") * s,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        out_cols.append(p.alias(f"p{j}"))
    proj = e.select(*out_cols)
    sig = None
    for j in range(_SRP_K):
        bit = F.when(F.col(f"p{j}") >= 0, F.lit(2 ** j)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return proj.select(
        "vec_id",
        *[f"p{j}" for j in range(_SRP_K)],
        sig.cast("bigint").alias("srp_sig"),
    )


# --- perceptual image hashing ------------------------------------------------


def _q193_sql() -> str:
    """Closed-form dHash oracle: the synthetic PNG pixels are
    ((k + x*y)*31) % 256, so DuckDB can rebuild the 9x8 box-binned
    grid and the 64 comparisons WITHOUT any image decode. Cell means
    are replayed EXACTLY as the decoder now computes them — integer
    channel sums compared cross-multiplied (the r6 ulp fix) — and
    because a dHash bit compares two cells in the SAME grid row, the
    shared row-height factor in the pixel counts cancels: the
    comparison needs only the per-column widths cw[c] =
    ceil((c+1)*w/9) - ceil(c*w/9). Pure integer arithmetic end to
    end, fully portable."""
    cell = (
        "list_sum(flatten(list_transform("
        "range(CAST(CEIL(r * h / 8.0) AS BIGINT), CAST(CEIL((r + 1) * h / 8.0) AS BIGINT)), "
        "y -> list_transform("
        "range(CAST(CEIL(c * w / 9.0) AS BIGINT), CAST(CEIL((c + 1) * w / 9.0) AS BIGINT)), "
        "x -> ((k + x * y) * 31) % 256))))"
    )
    byte = " + ".join(
        f"(CASE WHEN cm[r + 1][{c} + 2] * cw[{c} + 1]"
        f" > cm[r + 1][{c} + 1] * cw[{c} + 2]"
        f" THEN {1 << (7 - c)} ELSE 0 END)"
        for c in range(8)
    )
    return f"""
    WITH px AS (
      SELECT p_partkey AS k,
             12 + (p_partkey % 13) AS w,
             10 + (p_partkey % 7) AS h
      FROM part
    ),
    cells AS (
      SELECT k, w, h,
             list_transform(range(0, 8), r ->
               list_transform(range(0, 9), c -> {cell})) AS cm,
             list_transform(range(0, 9), c ->
               CAST(CEIL((c + 1) * w / 9.0) AS BIGINT)
               - CAST(CEIL(c * w / 9.0) AS BIGINT)) AS cw
      FROM px
    ),
    bits AS (
      SELECT k, w, h,
             list_transform(range(0, 8), r -> printf('%02x', {byte})) AS bh
      FROM cells
    )
    SELECT concat('/synthetic/img/', k, '.png') AS path,
           CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
           array_to_string(bh, '') AS dhash,
           'real' AS dhash_status
    FROM bits
    """


@register("q193_image_dhash", _q193_sql())
def q193_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual difference-hash over a synthetic REAL-PNG corpus
    (`multimodal.image_dhash`): per-image 64-bit dHash with explicit
    dhash_status provenance — the image-dedup signature a multimodal
    training pipeline computes at ingest. FULLY hash-checked (the
    q205/q206 closed-form-oracle pattern pushed to its limit): the
    oracle rebuilds the box-binned grid and all 64 brightness
    comparisons arithmetically from the pixel formula, so any bug in
    PNG encode, chunk walk, inflate, unfilter, binning, or bit
    packing flips hex characters and breaks the hash. Hand-computed
    fixtures additionally pin ramp/scale/banding semantics in
    tests/test_ext4_suite.py."""
    from patientdataintegration_spark.operators.multimodal import (
        image_dhash,
        synthetic_pngs,
    )

    p = load_table(spark, sf_dir, "part")
    # base 12x10 keeps every generated image >= the 9x8 dHash grid
    tiles = synthetic_pngs(p, key_col="p_partkey", base_w=12, base_h=10)
    return image_dhash(tiles)


def _q194_sql() -> str:
    """Composes q193's closed-form hash replay with the same 8-band
    pigeonhole blocking and per-byte XOR popcount the operator
    uses."""
    hamming = " + ".join(
        f"bit_count(xor(CAST(('0x' || substr(ha, {b * 2 + 1}, 2)) AS BIGINT), "
        f"CAST(('0x' || substr(hb, {b * 2 + 1}, 2)) AS BIGINT)))"
        for b in range(8)
    )
    band_rows = "\n      UNION ALL ".join(
        f"SELECT path, dhash, {b} AS band, substr(dhash, {b * 2 + 1}, 2) AS bv FROM h"
        for b in range(8)
    )
    return f"""
    WITH h AS ({_q193_sql().strip()}),
    banded AS (
      {band_rows}
    ),
    cand AS (
      SELECT DISTINCT a.path AS path_a, a.dhash AS ha,
                      b.path AS path_b, b.dhash AS hb
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bv = b.bv AND a.path < b.path
    )
    SELECT path_a, path_b, CAST({hamming} AS INTEGER) AS hamming
    FROM cand
    WHERE {hamming} <= 6
    """


@register("q194_dhash_neardup", _q194_sql())
def q194_dhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate image pairs by banded dHash hamming distance
    (`multimodal.dhash_neardup_pairs`): 8-bit pigeonhole bands ->
    equi-join candidates -> exact popcount prune, the image twin of
    the SimHash text lane (q35); never all-pairs. FULLY hash-checked:
    the oracle composes q193's closed-form hash replay with the same
    banding and per-byte XOR popcount, so blocking recall AND the
    hamming arithmetic are value-pinned; the constructed-duplicate
    test additionally pins that re-encoded identical pixels pair at
    hamming 0."""
    from patientdataintegration_spark.operators.multimodal import (
        dhash_neardup_pairs,
        image_dhash,
        synthetic_pngs,
    )

    p = load_table(spark, sf_dir, "part")
    tiles = synthetic_pngs(p, key_col="p_partkey", base_w=12, base_h=10)
    return dhash_neardup_pairs(image_dhash(tiles))


# --- custom Python DataSource scan -------------------------------------------


def _q195_sql() -> str:
    from patientdataintegration_spark.sources.pysource import (
        SYNTH_DOCS_ORACLE_SQL,
    )

    return f"""
    WITH src AS ({SYNTH_DOCS_ORACLE_SQL.format(n=2000)}),
    f AS (SELECT * FROM src WHERE doc_id >= 250 AND doc_id < 1750)
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           COUNT(DISTINCT text) AS n_distinct_texts
    FROM f GROUP BY lang
    """


@register("q195_python_datasource", _q195_sql())
def q195_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation over the custom Python DataSource
    (`sources/pysource.SynthDocsDataSource`) — the Spark 4 DataSource
    API surface, end to end: partition planning (8 parallel range
    partitions), FILTER PUSHDOWN (the doc_id range predicate is
    consumed by `pushFilters` and prunes whole partitions before any
    row crosses the Python->JVM boundary — the Python twin of parquet
    row-group pruning), and Arrow RecordBatch emission. The source
    generates rows as a pure function of doc_id, so a DuckDB
    `range()` twin replays the identical relation and this lane is
    FULLY hash-checked despite reading from a source DuckDB has
    never heard of. sf_dir is unused: the corpus is generated, which
    is the point."""
    from patientdataintegration_spark.sources.pysource import (
        register_synth_docs,
    )

    register_synth_docs(spark)
    src = (
        spark.read.format("synth_docs")
        .option("n", 2000)
        .option("parts", 8)
        .load()
    )
    return (
        src.filter((F.col("doc_id") >= 250) & (F.col("doc_id") < 1750))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.count_distinct("text").alias("n_distinct_texts"),
        )
    )


@register(
    "q196_python_stream_source",
    """
    WITH ids AS (SELECT unnest(range(0, 300)) AS i),
    h AS (SELECT i, md5(CAST(i AS VARCHAR)) AS d FROM ids),
    r AS (
      SELECT CAST(CAST(('0x' || substr(d, 1, 8)) AS UBIGINT) % 100 AS BIGINT)
               AS user_id,
             ['click','view','purchase','refund']
               [CAST(CAST(('0x' || substr(d, 9, 2)) AS UBIGINT) % 4 AS INT) + 1]
               AS event_type,
             (CAST(('0x' || substr(d, 11, 6)) AS UBIGINT) % 100000) / 100.0
               AS value
      FROM h
    )
    SELECT event_type, user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM r GROUP BY event_type, user_id
    """,
)
def q196_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming aggregation over the custom Python
    DataSourceStreamReader (`sources/pydatasource`, format
    `synthetic_events`):
    checkpointable {"next_id"} offsets, driver-side prefetch, and
    deterministic replay via readBetweenOffsets (exactly-once under
    restart by construction — proven by the restart test, which
    resumes the SAME checkpoint and receives exactly the next offset
    window). UPGRADED r8 from rows-only to a FULL hash oracle (the
    q195 generator-replay pattern lifted to the STREAM lane): every
    generated row is a pure md5 function of its event_id, and the
    complete-mode availableNow final table aggregates ids 0..299
    regardless of micro-batching, so a DuckDB range() twin replays
    the byte-exact generator (big-endian digest slices as hex-parsed
    ints, value = 3-byte int % 1e5 / 100 — one shared IEEE division)
    and the hash checks the whole offset-advance/ingest path.
    sf_dir seeds only the checkpoint location."""
    import os
    import tempfile
    import uuid

    from patientdataintegration_spark.sources.pydatasource import register

    register(spark)
    ckpt = os.path.join(
        tempfile.mkdtemp(prefix="pdi_q196_"), uuid.uuid4().hex[:8]
    )
    stream = (
        spark.readStream.format("synthetic_events")
        .option("rows", 300)
        .option("batch_rows", 300)
        .load()
    )
    agg = stream.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
    )
    name = f"q196_out_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


# --- sanctioned Python-UDF API surfaces (vectorized, oracle-checked) ---------


@register(
    "q197_pandas_udf_scalar",
    """
    SELECT l_orderkey, l_linenumber,
           round(1.0 / (1.0 + exp(-((l_extendedprice / 1000.0) - 30.0))), 6)
             AS purchase_score
    FROM lineitem WHERE l_quantity >= 45
    """,
)
def q197_pandas_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized scalar `@pandas_udf` lane — the sanctioned form of
    custom Python math (Arrow column batches + numpy, never
    row-at-a-time): a logistic purchase score over a filtered scan.
    Like the q182 UDTF lane this exists to prove the API surface
    end-to-end against the SQL oracle, not because the expression
    needs Python (the JVM twin is `F.expr` of the same formula; the
    pytest asserts both lanes are row-identical). Exactness: numpy's
    exp and libm's agree to the ulp on this range and the output is
    rounded at 6 digits (the q82 discipline). Scale: the UDF rides
    the scan stage (no shuffle); the filter is pushed below it."""
    from patientdataintegration_spark.functions.pandas_udfs import (
        purchase_score,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_quantity") >= 45).select(
        "l_orderkey",
        "l_linenumber",
        purchase_score(F.col("l_extendedprice")).alias("purchase_score"),
    )


@register(
    "q198_grouped_agg_pandas",
    """
    SELECT c_nationkey,
           round(median(c_acctbal), 4) AS median_bal,
           round(quantile_cont(c_acctbal, 0.75) - quantile_cont(c_acctbal, 0.25), 4)
             AS iqr_bal,
           COUNT(*) AS n
    FROM customer GROUP BY c_nationkey
    """,
)
def q198_grouped_agg_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG `@pandas_udf` lane: per-nation median and
    interquartile range computed by numpy inside a grouped-aggregate
    pandas UDF. Selection statistics (not accumulations) are the
    right fit for a Python aggregate — the result depends only on the
    sorted values, so numpy's linear-interpolation quantiles equal
    DuckDB's quantile_cont bit-for-bit (each is one lerp of two
    doubles) with no ordering hazard. Scale: partial aggregation does
    NOT apply to grouped-agg UDFs (whole groups ship to Python), so
    this lane is for group counts that fit an Arrow batch — the
    docstringed contract; unbounded-cardinality aggregations stay
    JVM-side (q149's exact percentile_cont spine)."""
    from patientdataintegration_spark.functions.pandas_udfs import (
        group_count,
        group_iqr,
        group_median,
    )

    c = load_table(spark, sf_dir, "customer")
    # all three aggregates are pandas UDFs: Spark rejects mixing
    # grouped-agg pandas UDFs with JVM aggregates in one agg()
    return c.groupBy("c_nationkey").agg(
        group_median(F.col("c_acctbal")).alias("median_bal"),
        group_iqr(F.col("c_acctbal")).alias("iqr_bal"),
        group_count(F.col("c_acctbal")).alias("n"),
    )


@register(
    "q199_apply_in_pandas",
    """
    WITH s AS (
      SELECT o_custkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn,
             COUNT(*) OVER (PARTITION BY o_custkey) AS n
      FROM orders
    )
    SELECT o_custkey AS custkey,
           CAST(n AS BIGINT) AS n_orders,
           round(o_totalprice - first_price, 2) AS price_drift
    FROM (
      SELECT s.o_custkey, s.n, s.o_totalprice,
             FIRST_VALUE(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY rn) AS first_price,
             rn
      FROM s
    ) WHERE rn = n
    """,
)
def q199_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch `groupBy().applyInPandas` lane: per-customer order
    history shipped to Python as one pandas frame, which sorts it by
    (orderdate, orderkey) and emits the drift between the customer's
    first and last order price — the per-entity imperative-logic
    shape (custom curve fits, per-patient trajectories) that
    genuinely wants a dataframe in hand rather than window algebra.
    The oracle spells the identical computation with window
    functions, pinning that the Python lane reproduces the relational
    semantics exactly (drift = one double subtraction, rounded 2).
    Scale: one shuffle on the group key; each group must fit in
    memory — the applyInPandas contract; per-key explode stays
    bounded by orders-per-customer."""
    import pandas as pd

    def drift(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["o_orderdate", "o_orderkey"])
        first = pdf["o_totalprice"].iloc[0]
        last = pdf["o_totalprice"].iloc[-1]
        return pd.DataFrame(
            {
                "custkey": [pdf["o_custkey"].iloc[0]],
                "n_orders": [len(pdf)],
                "price_drift": [round(last - first, 2)],
            }
        )

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    )
    return o.groupBy("o_custkey").applyInPandas(
        drift, "custkey bigint, n_orders bigint, price_drift double"
    )


# --- flagship: end-to-end corpus curation ------------------------------------


def _q200_sql() -> str:
    from patientdataintegration_spark.functions.deterministic import (
        MODULUS,
        pseudo_random_sql,
    )
    from patientdataintegration_spark.operators.dedup import minhash_params

    h = HEX_HASH_SQL.format(col="shingle")
    mins = ",\n             ".join(
        f"MIN((sh_mod * {a} + {b}) % {MODULUS}) AS mh_{i}"
        for i, (a, b) in enumerate(minhash_params(8, 42))
    )
    band_selects = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band, concat(mh_{i}, '_', mh_{j}) AS key FROM sig".format(
            b=b, i=b * 2, j=b * 2 + 1
        )
        for b in range(4)
    )
    pr = pseudo_random_sql("doc_id")
    return f"""
    WITH qf AS (
      SELECT doc_id, source, text,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             (length(text) - (len(string_split(text, ' ')) - 1))
               / len(string_split(text, ' ')) AS avg_token_len,
             len(list_filter(string_split(text, ' '),
                 x -> x IN ('the','a','and','of','to','in')))
               / len(string_split(text, ' ')) AS stopword_ratio
      FROM documents
    ),
    s1 AS (
      SELECT doc_id, source, text, n_tokens FROM qf
      WHERE n_tokens >= 20 AND stopword_ratio <= 0.5
        AND avg_token_len >= 3 AND avg_token_len <= 8
    ),
    fp AS (
      SELECT doc_id, source, text, n_tokens,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
      FROM s1
    ),
    keep2 AS (SELECT fingerprint, MIN(doc_id) AS kid FROM fp GROUP BY fingerprint),
    s2 AS (
      SELECT fp.doc_id, fp.source, fp.text, fp.n_tokens
      FROM fp JOIN keep2 ON keep2.fingerprint = fp.fingerprint
      WHERE fp.doc_id = keep2.kid
    ),
    toks AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM s2),
    sh AS (
      SELECT doc_id,
             unnest(CASE WHEN len(t) >= 3
                    THEN list_distinct(list_transform(range(1, len(t) - 1),
                         i -> concat_ws(' ', t[i], t[i+1], t[i+2])))
                    ELSE [] END) AS shingle
      FROM toks
    ),
    hashed AS (SELECT doc_id, {h} % {MODULUS} AS sh_mod FROM sh),
    sig AS (
      SELECT doc_id,
             {mins}
      FROM hashed GROUP BY doc_id
    ),
    banded AS (
      {band_selects}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    s3 AS (
      SELECT * FROM s2 WHERE doc_id NOT IN (SELECT doc_b FROM pairs)
    ),
    cum AS (
      SELECT doc_id, source, n_tokens,
             CAST(SUM(n_tokens) OVER (
               PARTITION BY source
               ORDER BY {pr} ASC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens
      FROM s3
    ),
    sel AS (SELECT * FROM cum WHERE cum_tokens <= 3000 OR cum_tokens = n_tokens)
    SELECT raw.source,
           raw.n_raw,
           COALESCE(a.n_quality, 0) AS n_quality,
           COALESCE(b.n_exact, 0) AS n_exact,
           COALESCE(c.n_neardup, 0) AS n_neardup,
           COALESCE(d.n_selected, 0) AS n_selected,
           COALESCE(d.tokens_selected, 0) AS tokens_selected
    FROM (SELECT source, COUNT(*) AS n_raw FROM documents GROUP BY source) raw
    LEFT JOIN (SELECT source, COUNT(*) AS n_quality FROM s1 GROUP BY source) a
      ON a.source = raw.source
    LEFT JOIN (SELECT source, COUNT(*) AS n_exact FROM s2 GROUP BY source) b
      ON b.source = raw.source
    LEFT JOIN (SELECT source, COUNT(*) AS n_neardup FROM s3 GROUP BY source) c
      ON c.source = raw.source
    LEFT JOIN (SELECT source, COUNT(*) AS n_selected,
                      CAST(SUM(n_tokens) AS BIGINT) AS tokens_selected
               FROM sel GROUP BY source) d
      ON d.source = raw.source
    """


@register("q200_corpus_curation", _q200_sql())
def q200_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship composite: a COMPLETE training-corpus curation
    pipeline as ONE lazy DAG, with per-source survivor accounting at
    every stage — the end-to-end shape this engine exists for:

      raw --quality gate--> s1 --exact dedup (keep min id per
      fingerprint)--> s2 --near-dup removal (MinHash-LSH candidate
      pairs among survivors; the higher id of each pair drops)-->
      s3 --per-source token-budget sample (3000 tokens, seeded
      hash order)--> selected

    Every stage reuses the independently proven operator (q38 quality gate,
    q32 fingerprints, q92 LSH, q106 budget sampling) and the oracle
    replays the identical five-stage dataflow in one SQL statement,
    so the composition — not just the parts — is hash-checked.
    Near-dup removal here is the one-pass pair heuristic (drop the
    higher id of every candidate pair); full transitive clustering
    is q86's connected components, swappable when recall matters
    more than a single extra shuffle. Scale: each stage is the same
    bounded shape as its standalone query; stage accounting adds
    five source-keyed COUNT aggregations (tiny) joined at the end.
    """
    from patientdataintegration_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_table,
    )
    from patientdataintegration_spark.operators.sampling import (
        token_budget_sample,
    )
    from patientdataintegration_spark.operators.textops import (
        fingerprint,
        quality_features,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    s1 = (
        quality_features(d)
        .filter(
            (F.col("n_tokens") >= 20)
            & (F.col("stopword_ratio") <= 0.5)
            & (F.col("avg_token_len") >= 3)
            & (F.col("avg_token_len") <= 8)
        )
        .select("doc_id", "source", "text", "n_tokens")
    )
    fp = fingerprint(s1)
    keep2 = fp.groupBy("fingerprint").agg(F.min("doc_id").alias("kid"))
    s2 = (
        fp.join(keep2, "fingerprint")
        .filter(F.col("doc_id") == F.col("kid"))
        .select("doc_id", "source", "text", "n_tokens")
    )
    sigs = minhash_signatures(shingle_table(s2))
    pairs = lsh_candidate_pairs(sigs)
    s3 = s2.join(
        pairs.select(F.col("doc_b").alias("doc_id")).distinct(),
        "doc_id",
        "left_anti",
    )
    sel = token_budget_sample(s3, budget_tokens=3000)

    def per_source(df: DataFrame, name: str, tokens: bool = False) -> DataFrame:
        aggs = [F.count(F.lit(1)).alias(name)]
        if tokens:
            aggs.append(F.sum("n_tokens").alias("tokens_selected"))
        return df.groupBy("source").agg(*aggs)

    raw = per_source(d, "n_raw")
    out = (
        raw.join(per_source(s1, "n_quality"), "source", "left")
        .join(per_source(s2, "n_exact"), "source", "left")
        .join(per_source(s3, "n_neardup"), "source", "left")
        .join(per_source(sel, "n_selected", tokens=True), "source", "left")
        .select(
            "source",
            "n_raw",
            F.coalesce("n_quality", F.lit(0)).alias("n_quality"),
            F.coalesce("n_exact", F.lit(0)).alias("n_exact"),
            F.coalesce("n_neardup", F.lit(0)).alias("n_neardup"),
            F.coalesce("n_selected", F.lit(0)).alias("n_selected"),
            F.coalesce("tokens_selected", F.lit(0)).alias("tokens_selected"),
        )
    )
    return out


@register(
    "q201_stream_outer_join",
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
    """,
)
def q201_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER interval join — the
    missing outer half of q99: errors with no same-user click in the
    preceding 24 h surface as null-click rows once the watermark
    passes their join window (outer emission = state-cleanup time,
    the semantics that distinguish streaming outer joins from batch).
    UPGRADED r8 from rows-only to a FULL hash oracle replaying the
    eviction rule itself, calibrated to the millisecond against the
    engine (tests/test_stream_eviction_frontier.py): the global
    watermark is the MIN over both sides' per-type max event time,
    floored to ms, and an unmatched error null-emits iff its ms-
    floored event time is STRICTLY below that watermark. Matched
    pairs emit eagerly (the q99 argument), so emitted = batch join ∪
    {unmatched e : e_ms < wm_ms} exactly — the driver row now hash-
    checks WHICH outer rows the engine has proven final, not just
    their values."""
    from patientdataintegration_spark.streaming.sessions import (
        interval_join_stream,
    )

    return interval_join_stream(
        spark,
        sf_dir,
        window_hours=24,
        table_name="stream_interval_join_outer",
        how="left_outer",
    )


# --- ANN baseline + recall audit ---------------------------------------------


def _q202_sql(k: int = 3) -> str:
    from patientdataintegration_spark.suite.ext import COSINE_REDUCE

    dotqc = COSINE_REDUCE.format(a="q.qv", b="c.cv")
    dotqq = COSINE_REDUCE.format(a="q.qv", b="q.qv")
    dotcc = COSINE_REDUCE.format(a="c.cv", b="c.cv")
    return f"""
    WITH q AS (
      SELECT vec_id AS query_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id % 100 = 0
    ),
    c AS (
      SELECT vec_id AS neighbor_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      FROM embeddings
    ),
    pairs AS (
      SELECT q.query_id, c.neighbor_id,
             round({dotqc} / (sqrt({dotqq}) * sqrt({dotcc})), 4) + 0.0 AS cos_sim
      FROM q CROSS JOIN c
      WHERE q.query_id <> c.neighbor_id
    ),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk
      FROM pairs
    )
    SELECT query_id, neighbor_id, cos_sim, rnk FROM r WHERE rnk <= {k}
    """


@register("q202_bruteforce_topk", _q202_sql())
def q202_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXHAUSTIVE cosine top-k — the ground-truth baseline of the ANN
    family (`similarity.cosine_topk`): every query scored against
    every candidate, no bucketing. The scale contract is explicit:
    the QUERY side is small by construction (1% of ids) and
    broadcast, so cost is |Q| x |N| streaming over one candidate
    scan — the right tool for evaluating sketch quality (q203) and
    for small probe sets, while q93 (hyperplane LSH) and q98 (IVF)
    are the production paths when |Q| grows with the corpus. Same
    rounding/tiebreak discipline as q36/q98, so results are
    hash-exact cross-engine."""
    from patientdataintegration_spark.operators.similarity import cosine_topk

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 0)
    out = cosine_topk(q, e, k=3)
    rank_col = "rank" if "rank" in out.columns else "rnk"
    return out.withColumnRenamed(rank_col, "rnk")


def _q203_sql() -> str:
    from patientdataintegration_spark.suite.ext import _q98_sql

    ivf = _q98_sql().strip()
    exact = _q202_sql().strip()
    return f"""
    WITH ivf AS ({ivf}),
    exact AS ({exact}),
    hits AS (
      SELECT e.query_id,
             CAST(COUNT(i.neighbor_id) AS BIGINT) AS n_overlap
      FROM exact e
      LEFT JOIN ivf i
        ON i.query_id = e.query_id AND i.neighbor_id = e.neighbor_id
      GROUP BY e.query_id
    )
    SELECT query_id, n_overlap,
           round(n_overlap / 3.0, 6) AS recall_at_3
    FROM hits
    """


@register("q203_ann_recall", _q203_sql())
def q203_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the IVF ANN (q98) against the exhaustive baseline
    (q202), per query — the measurement a pipeline owner runs before
    trusting an approximate index at corpus scale (the audit twin of
    q190's MinHash-error lane, for the vector side). Both inputs are
    deterministic, so recall itself is hash-exact: the oracle
    composes the two queries' SQL verbatim and replays the same
    overlap join. Scale: the per-query top-k sets are k-row
    relations; the overlap join is trivially small next to either
    index build."""
    from patientdataintegration_spark.operators.similarity import (
        cosine_topk,
        ivf_cosine_topk,
    )

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 0)
    exact = cosine_topk(q, e, k=3).select("query_id", "neighbor_id")
    ivf = ivf_cosine_topk(
        q, e, k=3, n_cells=16, n_probe=4, seed=42, quantizer="exact"
    ).select(
        F.col("query_id").alias("i_q"), F.col("neighbor_id").alias("i_n")
    )
    hits = (
        exact.join(
            ivf,
            (F.col("query_id") == F.col("i_q"))
            & (F.col("neighbor_id") == F.col("i_n")),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("i_n").alias("n_overlap"))
    )
    return hits.select(
        "query_id",
        "n_overlap",
        F.round(F.col("n_overlap") / 3.0, 6).alias("recall_at_3"),
    )


# --- distribution drift: two-sample Kolmogorov-Smirnov ------------------------


@register(
    "q204_ks_drift",
    """
    WITH ref AS (
      SELECT o_totalprice AS v FROM orders WHERE year(o_orderdate) = 1997
    ),
    cur AS (
      SELECT o_totalprice AS v FROM orders WHERE year(o_orderdate) = 1998
    ),
    n AS (
      SELECT (SELECT COUNT(*) FROM ref) AS n_ref,
             (SELECT COUNT(*) FROM cur) AS n_cur
    ),
    per_v AS (
      SELECT v,
             SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS r,
             SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS c
      FROM (
        SELECT v, 0 AS side FROM ref
        UNION ALL SELECT v, 1 AS side FROM cur
      ) GROUP BY v
    ),
    cdf AS (
      SELECT v,
             CAST(SUM(r) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_ref,
             CAST(SUM(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_cur
      FROM per_v
    )
    SELECT cdf.v AS at_value, cum_ref, cum_cur,
           ABS(CAST(cum_ref AS DOUBLE) / n.n_ref
               - CAST(cum_cur AS DOUBLE) / n.n_cur) AS ks_stat
    FROM cdf CROSS JOIN n
    ORDER BY ks_stat DESC, at_value ASC
    LIMIT 1
    """,
)
def q204_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic between the 1997
    and 1998 order-total distributions: KS = max over values of
    |CDF_ref - CDF_cur|, with the value where the gap peaks — the
    nonparametric drift test a pipeline runs between snapshots
    (complementing q134's per-source KL and q154's mean-shift
    z-score). ENTIRELY libm-free: cumulative counts are exact
    integers, each CDF is one IEEE division by a constant total, the
    gap is one subtraction — so the statistic is hash-exact with no
    rounding at all, and the (gap DESC, value ASC) tiebreak makes the
    LIMIT 1 prefix unique. Scale: one tagged-union scan, one groupBy
    per distinct value, then a single ordered cumulative window over
    the DISTINCT values (not the rows) — at 100 TB pre-bucket values
    (the q145 equi-depth spine) to bound that window's input."""
    o = load_table(spark, sf_dir, "orders")
    ref = o.filter(F.year("o_orderdate") == 1997).select(
        F.col("o_totalprice").alias("v"), F.lit(0).alias("side")
    )
    cur = o.filter(F.year("o_orderdate") == 1998).select(
        F.col("o_totalprice").alias("v"), F.lit(1).alias("side")
    )
    tagged = ref.unionByName(cur)
    # 1-row totals frame, broadcast — no driver-side count() action
    n = tagged.agg(
        F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).alias("n_cur"),
    )
    per_v = tagged.groupBy("v").agg(
        F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).alias("r"),
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).alias("c"),
    )
    from pyspark.sql import Window

    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cdf = per_v.select(
        "v",
        F.sum("r").over(w).cast("bigint").alias("cum_ref"),
        F.sum("c").over(w).cast("bigint").alias("cum_cur"),
    )
    ks = cdf.crossJoin(F.broadcast(n)).select(
        F.col("v").alias("at_value"),
        "cum_ref",
        "cum_cur",
        F.abs(
            F.col("cum_ref").cast("double") / F.col("n_ref").cast("double")
            - F.col("cum_cur").cast("double") / F.col("n_cur").cast("double")
        ).alias("ks_stat"),
    )
    return ks.orderBy(F.col("ks_stat").desc(), F.col("at_value").asc()).limit(1)


# --- audio metadata, closed-form oracle --------------------------------------


@register(
    "q205_audio_metadata_exact",
    """
    WITH m AS (
      SELECT 8000 AS sample_rate,
             CAST(1 + (p_partkey % 2) AS INTEGER) AS channels,
             16 AS bits_per_sample,
             CAST(100 + (p_partkey % 400) AS BIGINT) AS n_samples,
             CAST(44 + (100 + (p_partkey % 400))
                  * ((1 + (p_partkey % 2)) * 2) AS BIGINT) AS n_bytes
      FROM part
    )
    SELECT sample_rate, channels, bits_per_sample,
           COUNT(*) AS n_files,
           CAST(SUM(n_samples) AS BIGINT) AS total_samples,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes
    FROM m GROUP BY sample_rate, channels, bits_per_sample
    """,
)
def q205_audio_metadata_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The binary audio lane UPGRADED to a full hash oracle: the
    synthetic RIFF/WAVE payloads are closed-form functions of the
    part key (channels = 1 + k%2, frames = 100 + k%400, container
    bytes = 44 + frames*block), so DuckDB can replay the EXPECTED
    header metadata arithmetically while Spark obtains it by
    round-tripping real bytes — generate container -> chunk-walk
    parse (`parse_wav_header`) -> aggregate. A header-parser bug
    (wrong offset, wrong endianness, block-align confusion) breaks
    the hash match; the PCM sample statistics (RMS/peak/zcr) stay in
    q104's richer rows-only lane. This is the pattern for making any
    binary decode oracle-checkable: deterministic payloads whose
    ground truth is computable without the decoder."""
    from patientdataintegration_spark.operators.multimodal import (
        audio_features,
        synthetic_wavs,
    )

    p = load_table(spark, sf_dir, "part")
    feats = audio_features(synthetic_wavs(p, "p_partkey"))
    return (
        feats.groupBy("sample_rate", "channels", "bits_per_sample")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("n_samples").alias("total_samples"),
            F.sum("n_bytes").alias("total_bytes"),
        )
    )


@register(
    "q206_image_decode_exact",
    """
    WITH px AS (
      SELECT p_partkey AS k,
             4 + (p_partkey % 13) AS w,
             4 + (p_partkey % 7) AS h
      FROM part
    ),
    s AS (
      SELECT k, w, h,
             list_sum(flatten(list_transform(range(0, h),
               y -> list_transform(range(0, w),
                    x -> ((k + x * y) * 31) % 256)))) AS sum_px
      FROM px
    )
    SELECT k AS part_key, CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           round((CAST(sum_px AS DOUBLE) / (w * h)) / 255.0, 9)
             AS mean_intensity
    FROM s
    """,
)
def q206_image_decode_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PNG pixel-decode lane UPGRADED to a full hash oracle, the
    q205 pattern applied to images: `synthetic_pngs` renders the
    deterministic gradient ((k + x*y)*31 % 256) into REAL
    spec-compliant PNGs (zlib IDAT, CRC chunks), `image_features`
    decodes them back through the stdlib chunk-walk + inflate +
    unfilter path, and the oracle computes the expected per-image
    mean intensity ARITHMETICALLY — same two-division
    parenthesisation ((sum/n)/255) as the decoder, rounded at 9. Any
    bug anywhere in the encode->decode round trip (filter handling,
    stride math, palette logic) breaks the hash. decode_status must
    be 'real' for every row — enforced in the plan by failing the
    join to nothing (an inner filter) rather than silently passing
    stub values through."""
    from patientdataintegration_spark.operators.multimodal import (
        image_features,
        synthetic_pngs,
    )

    p = load_table(spark, sf_dir, "part")
    feats = image_features(synthetic_pngs(p, "p_partkey"))
    key = F.regexp_extract("path", r"/(\d+)\.png$", 1).cast("bigint")
    return feats.filter(F.col("decode_status") == "real").select(
        key.alias("part_key"),
        "width",
        "height",
        F.round("mean_intensity", 9).alias("mean_intensity"),
    )
