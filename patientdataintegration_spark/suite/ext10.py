"""Round-14 additions — the maintained index store learns to SERVE
(the r13 verdict's ranked list, items 1/2/4/5/6/7): q285 (BM25 top-k
answered FROM the maintained store — the store gains the `tf` +
1-row `stats` scoring satellites, repaired per batch by the same
term-grain upsert rule, and `bm25_from_store` never scans or
re-tokenizes the corpus), q286 (n-term PHRASES served from the
maintained positional satellite — `phrase_retrieval_nterm`'s
alignment join, one join + one aggregate for any phrase length),
q287 (TIME-TRAVEL retrieval: a conjunctive query answered AT a
pinned historical version of the store — the generation read rules'
query-time payoff), q288 (compaction as a SCHEDULED OFFLINE JOB:
`compact_index_store` folds between availableNow runs while ingest
batches stay delta-sized), and q289 (the BM25 DRIFT CERTIFICATE:
served-from-store scores == corpus-recomputed scores inside one DAG
— the q274 certificate pattern applied to the serving store).

Scale stance (100 TB): the serving lanes are the whole point —
after q281/q277/q283 maintain the store, a retrieval user's SECOND
query must not re-tokenize the corpus. `bm25_from_store` reads the
queried terms' store rows behind one broadcast semi-probe (df is a
candidate-sized agg of exactly those rows; avgdl folds in at query
time from the exact (n_docs, total_tokens) counters — the Lucene
treatment, so no persisted impact ever goes stale); the phrase serve
streams the positional satellite once behind the queried-term probe;
the time-travel read touches base + retained deltas only; the
offline fold keeps the ingest hot path free of corpus-sized writes.

Exactness: BM25 serving is BIT-identical to recompute because both
paths round the shared `_bm25_impact` tree to 6 digits then sum as
DECIMAL(28,12) (the q82/q280 discipline) over integer inputs the
store maintains exactly; positions/counts are pure integers
end to end.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

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


# shared CRUD schedule (the q283 shape): the store seeds from the
# first third of the corpus, batch 1 ingests the second third,
# batch 2 — across a checkpointed restart — ingests the final third
# AND takes down every doc_id % 5 == 0; net corpus = doc_id % 5 <> 0.
#
# The three latest-version serving lanes (q285/q286/q289) SHARE one
# maintained store carrying both satellites, built once per process
# (the memo below — same spirit as the content-keyed cached_* seed
# helpers: the store is serving infrastructure, each lane measures
# its SERVE): the final store state is batch-grouping-invariant
# (maintenance == recompute per batch, inductively), so they drain
# the whole CRUD backlog in ONE availableNow run, while q283 (two
# runs across a restart), q287 (pinned version between generations)
# and q288 (offline fold between runs) keep the multi-run schedule
# their semantics need.

_STORE_MEMO: dict[tuple, str] = {}


def _stream_crud_store(
    spark: SparkSession,
    sf_dir: str,
    scratch_name: str,
    tf_seed: bool = False,
    pos_seed: bool = False,
    compact_between: bool = False,
    single_run: bool = False,
) -> str:
    """Run the q283 CRUD schedule against a freshly seeded store with
    the requested serving satellites; returns the store dir
    (process-memoized per configuration). With `compact_between`, the
    OFFLINE `compact_index_store` job folds between the two
    availableNow runs (q288); with `single_run`, the whole backlog —
    ingests and takedowns — drains as one micro-batch. Ingest batches
    always run with inline compaction off."""
    from patientdataintegration_spark.scratch import scratch_dir
    from patientdataintegration_spark.streaming.index import (
        compact_index_store,
        index_stream,
        seed_index_store,
    )
    from patientdataintegration_spark.suite.ext import (
        cached_stream_seed_inverted_index,
        cached_stream_seed_positions,
        cached_stream_seed_scoring,
    )

    key = (scratch_name, sf_dir, tf_seed, pos_seed, compact_between, single_run)
    memo = _STORE_MEMO.get(key)
    if memo is not None and os.path.isdir(memo):
        return memo

    d = load_table(spark, sf_dir, "documents")
    idx0, of0 = cached_stream_seed_inverted_index(spark, sf_dir)
    root = scratch_dir(scratch_name, sf_dir)
    src, store, ckpt = (f"{root}/{p}" for p in ("src", "store", "ckpt"))
    os.makedirs(src)
    os.makedirs(store)
    seed_index_store(
        idx0, of0, store,
        tf_init=cached_stream_seed_scoring(spark, sf_dir) if tf_seed else None,
        pos_init=(
            cached_stream_seed_positions(spark, sf_dir) if pos_seed else None
        ),
    )

    batch1 = d.filter(F.col("doc_id") % 3 == 1).select(
        "doc_id", "text", F.lit(1).cast("int").alias("op")
    )
    takedowns = d.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id",
        F.lit(None).cast("string").alias("text"),
        F.lit(-1).cast("int").alias("op"),
    )
    batch2 = d.filter(F.col("doc_id") % 3 == 2).select(
        "doc_id", "text", F.lit(1).cast("int").alias("op")
    ).unionByName(takedowns)

    if single_run:
        batch1.unionByName(batch2).coalesce(1).write.mode("append").parquet(src)
        index_stream(
            spark, src, "*.parquet", store, ckpt, op_col="op", compact_every=0
        )
    else:
        batch1.coalesce(1).write.mode("append").parquet(src)
        index_stream(
            spark, src, "*.parquet", store, ckpt, op_col="op", compact_every=0
        )
        if compact_between:
            compact_index_store(spark, store)
        batch2.coalesce(1).write.mode("append").parquet(src)
        index_stream(
            spark, src, "*.parquet", store, ckpt, op_col="op", compact_every=0
        )
    _STORE_MEMO[key] = store
    return store


def _shared_serving_store(spark: SparkSession, sf_dir: str) -> str:
    """The one CRUD-maintained store the latest-version serving lanes
    (q285/q286/q289) read: both satellites seeded, whole backlog in
    one run, built once per process."""
    return _stream_crud_store(
        spark, sf_dir, "serve_store",
        tf_seed=True, pos_seed=True, single_run=True,
    )


def _bm25_ctes(
    q_filter: str = "doc_id % 100 = 1",
    corpus_filter: str = "doc_id % 5 <> 0",
) -> str:
    # the recompute CTE block the BM25 oracles share; `q_filter`
    # picks the external query documents, `corpus_filter` the corpus
    # state being served (net post-CRUD by default; q295 pins the
    # as-of-version-1 corpus)
    return f"""
    corpus AS (SELECT doc_id, text FROM documents WHERE {corpus_filter}),
    toks AS (
      SELECT doc_id, term
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM corpus)
      WHERE term <> ''
    ),
    tf AS (SELECT doc_id AS d, term, COUNT(*) AS tf
           FROM toks GROUP BY doc_id, term),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    dlen AS (SELECT d, SUM(tf) AS len_d FROM tf GROUP BY d),
    tot AS (SELECT COUNT(*) AS n_docs, SUM(len_d) AS total_tokens FROM dlen),
    q AS (
      SELECT DISTINCT doc_id AS qid, term
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents WHERE {q_filter})
      WHERE term <> ''
    ),
    cand AS (
      SELECT q.qid, tf.d, tf.tf, f.df, l.len_d, t.n_docs, t.total_tokens
      FROM q
      JOIN dfreq f USING (term)
      JOIN tf ON tf.term = q.term
      JOIN dlen l ON l.d = tf.d
      CROSS JOIN tot t
      WHERE tf.d <> q.qid
    ),
    scored AS (
      SELECT qid, d,
             SUM(CAST(round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                 * ((tf * (1.2 + 1.0)) /
                    (tf + 1.2 * ((1.0 - 0.75)
                     + 0.75 * len_d * n_docs / total_tokens))), 6)
                 AS DECIMAL(28,12))) AS s
      FROM cand GROUP BY qid, d
    ),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY s DESC, d ASC) AS rnk
      FROM scored
    )
"""


def _q285_sql(k: int = 5) -> str:
    # the corpus RECOMPUTE over the net (post-CRUD) corpus — q280's
    # exact expression trees (k1=1.2, b=0.75; the q82 ln-sum
    # discipline) with raw-token spelling (the store's tokenizer) and
    # external queries (doc_id % 100 = 1, text from the raw table):
    # serving from the maintained (tf, stats) satellites must be
    # indistinguishable from re-deriving everything from raw text
    return f"""
    WITH {_bm25_ctes()}
    SELECT CAST(qid AS BIGINT) AS query_id,
           CAST(d AS BIGINT) AS doc_id,
           CAST(s AS DOUBLE) AS score,
           rnk
    FROM r WHERE rnk <= {k}
    """


@_register("q285_bm25_from_store", _q285_sql())
def q285_bm25_from_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k SERVED FROM THE MAINTAINED STORE
    (`operators/indexing.bm25_from_store`) — the r13 verdict's lead
    item: q280 proved the ranking function, but its serving path
    re-tokenized the corpus on every call, forfeiting at query time
    everything q281/q277/q283 maintain. Here the store gains the
    scoring satellites — `tf` (term, doc, tf, len_d: `doc_term_stats`
    rows, Lucene's tf stream + norms, relationally) and the 1-row
    `stats` marginal — seeded over the first third, then maintained
    through the full q283 CRUD schedule (ingest thirds, takedowns of
    every fifth doc, checkpointed restart) by the SAME term-grain
    upsert generations as the postings. The serve tokenizes ONLY the
    query text (every 100th-plus-one document as a more-like-this
    query, read as external input); tf/len_d come from the queried
    terms' store rows behind one broadcast semi-probe, df is a
    candidate-sized count of exactly those rows, and avgdl folds in
    at query time from the exact (n_docs, total_tokens) counters —
    the Lucene treatment, so nothing persisted ever goes stale. The
    oracle recomputes BM25 from raw text over the net corpus, so the
    driver hash proves served == recomputed bit-for-bit (the shared
    `_bm25_impact` tree + round-6-then-DECIMAL sums); the
    reads-only-store-files plan proof is pinned by
    tests/test_scoring_store.py.

    Scale: maintenance writes stay O(dirty terms' rows); the serve
    streams the tf store once reduced to the queried terms' rows —
    no corpus scan, no tokenize, no doc-grain shuffle."""
    from patientdataintegration_spark.operators.indexing import bm25_from_store
    from patientdataintegration_spark.streaming.index import (
        read_index_stats,
        read_index_store,
    )

    store = _shared_serving_store(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    queries = d.filter(F.col("doc_id") % 100 == 1).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    return bm25_from_store(
        read_index_store(spark, store, "tf"),
        read_index_stats(spark, store),
        queries,
        k=5,
        k1=1.2,
        b=0.75,
    )


def _q286_sql(top_n: int = 10) -> str:
    # positions recomputed from the NET corpus's raw text (1-based,
    # assigned before the empty-token filter — the positional_postings
    # convention); phrases = consecutive TRIPLES of the net corpus's
    # hottest terms (doc-frequency desc, term asc — the q279/q282
    # hot-term rule, one rank deeper)
    return f"""
    WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
    pos AS (
      SELECT doc_id, toks[i] AS term, i AS pos
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
           UNNEST(range(1, len(toks) + 1)) AS u(i)
      WHERE toks[i] <> ''
    ),
    t AS (SELECT DISTINCT doc_id, term FROM pos),
    d AS (SELECT term, COUNT(*) AS df FROM t GROUP BY term),
    h AS (
      SELECT term, df,
             row_number() OVER (ORDER BY df DESC, term ASC) AS r
      FROM d
    ),
    hr AS (SELECT term, r FROM h WHERE r <= {top_n}),
    p AS (
      SELECT a.term AS term_a, b.term AS term_b, c.term AS term_c
      FROM hr a
      JOIN hr b ON b.r = a.r + 1
      JOIN hr c ON c.r = a.r + 2
    ),
    hits AS (
      SELECT p.term_a, p.term_b, p.term_c, x.doc_id, x.pos
      FROM p
      JOIN pos x ON x.term = p.term_a
      JOIN pos y ON y.term = p.term_b
               AND y.doc_id = x.doc_id AND y.pos = x.pos + 1
      JOIN pos z ON z.term = p.term_c
               AND z.doc_id = x.doc_id AND z.pos = x.pos + 2
    )
    SELECT term_a, term_b, term_c,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM hits GROUP BY term_a, term_b, term_c
    """


@_register("q286_phrase_from_store", _q286_sql())
def q286_phrase_from_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-term PHRASES served from the MAINTAINED positional satellite
    (`operators/indexing.phrase_retrieval_nterm` over the store's
    `pos` relation) — the r13 verdict's item 2, both halves: the
    positional postings become a maintained store relation (term-
    grain upserts, the q283 CRUD schedule: ingest thirds, takedowns,
    restart), and phrase retrieval generalizes past q282's (a, b)
    adjacency to arbitrary length via the ALIGNMENT join — every
    queried (phrase, offset, term) row maps candidate occurrences to
    their implied phrase start, and a start matches iff all n offsets
    aligned: ONE join + one aggregate regardless of phrase length,
    correct under repeated terms and overlapping matches (the
    "a a a" × "a a a a" battery in tests/test_scoring_store.py). The
    queries are the 8 consecutive TRIPLES of the net corpus's 10
    hottest terms (the q279/q282 rule, one rank deeper — n_docs here
    ≤ q282's per shared prefix pair); the oracle recomputes positions
    from the net corpus's raw text with the same 1-based,
    assigned-before-empty-filter convention, so the driver hash
    proves maintained positions + n-term alignment == raw-text
    3-way adjacency.

    Scale: the positional satellite streams once behind the queried-
    term semi-probe; the alignment aggregate keys on (phrase, doc,
    start) — shuffle volume is the queried postings, never the
    corpus."""
    from patientdataintegration_spark.operators.indexing import (
        phrase_retrieval_nterm,
    )
    from patientdataintegration_spark.streaming.index import read_index_store

    store = _shared_serving_store(spark, sf_dir)
    index = read_index_store(spark, store, "index")
    positions = read_index_store(spark, store, "pos")

    hot = index.select("term", "doc_freq").orderBy(
        F.col("doc_freq").desc(), F.col("term").asc()
    ).limit(10)
    w = Window.orderBy(F.col("doc_freq").desc(), F.col("term").asc())
    ranked = hot.withColumn("r", F.row_number().over(w)).select("term", "r")
    triples = (
        ranked.alias("x")
        .join(ranked.alias("y"), F.col("y.r") == F.col("x.r") + 1)
        .join(ranked.alias("z"), F.col("z.r") == F.col("x.r") + 2)
        .select(
            F.col("x.r").alias("phrase_id"),
            F.col("x.term").alias("term_a"),
            F.col("y.term").alias("term_b"),
            F.col("z.term").alias("term_c"),
            F.array("x.term", "y.term", "z.term").alias("terms"),
        )
    )
    hits = phrase_retrieval_nterm(positions, triples.select("phrase_id", "terms"))
    return (
        hits.join(
            F.broadcast(triples.select("phrase_id", "term_a", "term_b", "term_c")),
            "phrase_id",
        )
        .groupBy("term_a", "term_b", "term_c")
        .agg(
            F.countDistinct("doc").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.min("doc").cast("bigint").alias("min_doc"),
            F.max("doc").cast("bigint").alias("max_doc"),
        )
    )


def _q287_sql(top_n: int = 10) -> str:
    # the AS-OF-VERSION-1 corpus: seed third + batch-1 third, NO
    # takedowns (those ride batch 2, which the pinned read must not
    # see) — intersections recomputed from that corpus's raw text
    return f"""
    WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 2),
    t AS (
      SELECT DISTINCT doc_id, term
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM corpus)
      WHERE term <> ''
    ),
    d AS (SELECT term, COUNT(*) AS df FROM t GROUP BY term),
    h AS (
      SELECT term, df,
             row_number() OVER (ORDER BY df DESC, term ASC) AS r
      FROM d
    ),
    hr AS (SELECT term, r FROM h WHERE r <= {top_n}),
    p AS (
      SELECT a.term AS term_a, b.term AS term_b
      FROM hr a JOIN hr b ON b.r = a.r + 1
    ),
    hits AS (
      SELECT p.term_a, p.term_b, ta.doc_id
      FROM p
      JOIN t ta ON ta.term = p.term_a
      JOIN t tb ON tb.term = p.term_b AND tb.doc_id = ta.doc_id
    )
    SELECT term_a, term_b,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM hits GROUP BY term_a, term_b
    """


@_register("q287_index_time_travel", _q287_sql())
def q287_index_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-TRAVEL retrieval serving (r13 verdict item 6): a
    conjunctive query answered AT A PINNED HISTORICAL VERSION of the
    maintained store. The store runs the full q283 CRUD schedule —
    generation 1 ingests the second third, generation 2 (across the
    restart) ingests the final third AND takes down every fifth doc —
    and the query then reads (index, overflow) at **version=1**
    through the generation read rules, so batch-2's ingests AND its
    takedowns are both invisible: the q279 hottest-pair intersections
    (hot terms ranked by the version-1 index's own doc_freq) over the
    as-of corpus. The oracle replays the verb prefix up to that
    version — a rebuild over seed ∪ batch-1 — proving the pinned read
    IS the historical state, not a filtered view of the present
    (takedowns must re-appear, batch-2 docs must vanish). The read
    rules' property sweeps (tests/test_store_properties.py, commit
    9fab4e9) cover all versions; this lane makes one an end-to-end
    serving query with a driver hash.

    Scale: identical to q279's serve — base streamed once behind the
    broadcast probes, plus the retained delta generations at or below
    the pinned version; audit-as-of-yesterday costs the same as
    serve-today."""
    from patientdataintegration_spark.operators.indexing import (
        conjunctive_retrieval,
    )
    from patientdataintegration_spark.streaming.index import read_index_store

    store = _stream_crud_store(spark, sf_dir, "ttravel_index")
    # materialize the as-of view ONCE: three consumers read it (the
    # hot-term rank and both intersection sides), and a serving
    # deployment pins the reconstructed historical view for exactly
    # this reason instead of re-stitching base+deltas per probe
    index_v1 = read_index_store(
        spark, store, "index", version=1
    ).localCheckpoint()
    overflow_v1 = read_index_store(
        spark, store, "overflow", version=1
    ).localCheckpoint()

    hot = index_v1.select("term", "doc_freq").orderBy(
        F.col("doc_freq").desc(), F.col("term").asc()
    ).limit(10)
    w = Window.orderBy(F.col("doc_freq").desc(), F.col("term").asc())
    ranked = hot.withColumn("r", F.row_number().over(w)).select("term", "r")
    pairs = (
        ranked.alias("x")
        .join(ranked.alias("y"), F.col("y.r") == F.col("x.r") + 1)
        .select(
            F.col("x.term").alias("term_a"), F.col("y.term").alias("term_b")
        )
    )
    hits = conjunctive_retrieval(index_v1, overflow_v1, pairs)
    return hits.groupBy("term_a", "term_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("doc").cast("bigint").alias("min_doc"),
        F.max("doc").cast("bigint").alias("max_doc"),
    )


def _q288_sql() -> str:
    # identical contract to q283: the full rebuild over the net
    # corpus — the offline fold between the runs must be invisible
    # to every read
    from patientdataintegration_spark.suite.ext9 import _q283_sql

    return _q283_sql()


@_register("q288_offline_compaction", _q288_sql())
def q288_offline_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction as a SCHEDULED MAINTENANCE JOB (r13 verdict item
    5): q283 folds generations INLINE every `compact_every` batches —
    inside the foreachBatch hot path, where a 100 TB fold (it streams
    the corpus-sized base) would stall ingest for its duration. Here
    the stream runs with inline compaction OFF and the separate
    `compact_index_store` job folds between the two availableNow runs
    (the q246 nightly-maintenance shape): generation 1 folds into
    base_g1 while batch 2 — ingests AND takedowns — later lands as a
    plain delta against it, so the final read straddles seed-era
    state, the folded base and a post-fold CRUD generation. The
    oracle is q283's exact rebuild-over-net-corpus contract: the fold
    must be invisible to every read. Replay safety: the job folds at
    the latest COMMITTED generation, the GC rule keeps the previous
    base + its deltas for an in-flight replay, and a no-op guard
    refuses to fold a base onto itself; ingest batches staying
    delta-sized across the fold is pinned by
    tests/test_scoring_store.py.

    Scale: the fold is the one corpus-sized maintenance cost the
    store has — moving it off the ingest path is what makes
    per-batch latency O(dirty terms) unconditionally."""
    store = _stream_crud_store(
        spark, sf_dir, "offline_compact_index", compact_between=True
    )
    from patientdataintegration_spark.streaming.index import read_index_store

    final = read_index_store(spark, store, "index")
    return final.filter(F.col("doc_freq") >= 2).withColumn(
        "postings",
        F.concat_ws(",", F.transform("postings", lambda x: x.cast("string"))),
    )


def _q289_sql(k: int = 5) -> str:
    # the certificate's a-priori verdict: the recompute side's own
    # cardinalities plus a LITERAL zero mismatches — any drift
    # between served-from-store and corpus-recomputed BM25 breaks
    # n_mismatch (and usually n_rows) against this
    return f"""
    WITH {_bm25_ctes()},
    topk AS (SELECT qid, d, s, rnk FROM r WHERE rnk <= {k})
    SELECT CAST(COUNT(DISTINCT qid) AS BIGINT) AS n_queries,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(0 AS BIGINT) AS n_mismatch
    FROM topk
    """


@_register("q289_bm25_drift_certificate", _q289_sql())
def q289_bm25_drift_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BM25 DRIFT CERTIFICATE (r13 verdict stretch item 7) — the
    q274 certificate pattern applied to the serving store: after the
    full CRUD schedule, ONE DAG computes the top-k both ways —
    `bm25_from_store` over the maintained (tf, stats) satellites and
    `bm25_topk` re-derived from the net corpus's raw text — full-outer
    joins them on (query, doc, rank) and certifies zero mismatches
    (null-safe score equality), alongside the served side's own
    cardinalities. q285 proves served == recomputed through the
    driver's cross-engine hash; this lane proves it INSIDE the
    engine, the invariant a production deployment re-checks after
    every maintenance window without DuckDB in the loop. The oracle
    states the verdict a priori: the recompute side's cardinalities
    and a literal zero.

    Scale: the recompute side is the expensive one (that is the
    certificate's point — you run it nightly, not per query); the
    join is top-k-sized."""
    from patientdataintegration_spark.operators.indexing import (
        bm25_from_store,
        bm25_topk,
    )
    from patientdataintegration_spark.streaming.index import (
        read_index_stats,
        read_index_store,
    )

    store = _shared_serving_store(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    queries = d.filter(F.col("doc_id") % 100 == 1).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    # the cert's two sides each pin one corpus-sized relation eagerly
    # (the store candidates / the recompute's tf) and are independent
    # until the full-outer join — overlap the two materializations so
    # one side's stage tail back-fills the other's executors (guide
    # §2.6, the parallel_actions discipline; r17 verdict item 3)
    from patientdataintegration_spark.streaming.store import parallel_actions

    res: dict = {}

    def _served() -> None:
        res["s"] = bm25_from_store(
            read_index_store(spark, store, "tf"),
            read_index_stats(spark, store),
            queries,
            k=5,
        )

    def _recomputed() -> None:
        res["c"] = bm25_topk(
            d.filter(F.col("doc_id") % 5 != 0), queries, k=5
        )

    parallel_actions([_served, _recomputed])
    served, recomputed = res["s"], res["c"]
    j = served.alias("s").join(
        recomputed.alias("c"),
        ["query_id", "doc_id", "rnk"],
        "full_outer",
    )
    return j.agg(
        F.countDistinct(
            F.when(F.col("s.score").isNotNull(), F.col("query_id"))
        ).cast("bigint").alias("n_queries"),
        F.coalesce(
            F.sum(F.col("s.score").isNotNull().cast("bigint")), F.lit(0)
        ).cast("bigint").alias("n_rows"),
        F.coalesce(
            F.sum(
                (~F.col("s.score").eqNullSafe(F.col("c.score"))).cast("bigint")
            ),
            F.lit(0),
        ).cast("bigint").alias("n_mismatch"),
    )


def _shared_serving_export(spark: SparkSession, sf_dir: str) -> str:
    """The bucketed serving layout exported from the shared
    maintained store (q290) — built once per process, like the store
    itself."""
    from patientdataintegration_spark.scratch import scratch_dir
    from patientdataintegration_spark.streaming.index import (
        export_serving_layout,
    )

    key = ("serve_export", sf_dir)
    memo = _STORE_MEMO.get(key)
    if memo is not None and os.path.isdir(memo):
        return memo
    store = _shared_serving_store(spark, sf_dir)
    out = scratch_dir("serve_export", sf_dir)
    # all four term-grain relations export: tf/pos serve q290/q291,
    # index/overflow serve q293's pruned conjunctive retrieval (r15)
    export_serving_layout(
        spark, store, out,
        relations=("tf", "pos", "index", "overflow"), n_buckets=64,
    )
    _STORE_MEMO[key] = out
    return out


def _q290_sql(k: int = 5) -> str:
    # identical recompute contract to q285 — the bucketed layout and
    # the partition-pruned read must be invisible to values — over a
    # sparser query set (every 250th-plus-one document)
    return f"""
    WITH {_bm25_ctes("doc_id % 250 = 1")}
    SELECT CAST(qid AS BIGINT) AS query_id,
           CAST(d AS BIGINT) AS doc_id,
           CAST(s AS DOUBLE) AS score,
           rnk
    FROM r WHERE rnk <= {k}
    """


@_register("q290_bm25_pruned_serving", _q290_sql())
def q290_bm25_pruned_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 served from the BUCKETED SERVING EXPORT with partition
    pruning (`streaming/index.export_serving_layout` +
    `read_serving_relation`) — the 100 TB point-query answer the
    plain store read cannot give: q285 streams the whole tf relation
    behind a broadcast semi-probe (one full-store scan per query
    batch — fine for analytics, wrong for a serving tier), while the
    exported layout hive-partitions the rows by the engine-portable
    md5 term bucket, the query's terms map to buckets DRIVER-SIDE
    (`term_bucket_py` — query-sized metadata, Lucene's
    term-dictionary seek as a partition filter), and the scan reads
    ONLY those buckets: 1/n_buckets of the store per queried term,
    pruned at plan time. The export is the scheduled-offline-job
    companion of q288's fold (corpus-sized rewrites stay off the
    ingest path) and pins one store version — serving answers AT
    that consistent snapshot (the q287 semantics) until the next
    export, a stated staleness contract instead of a hidden one.
    The oracle recomputes BM25 from raw text over the net corpus, so
    the driver hash proves layout + pruning are invisible to values;
    the partition-pruning plan proof (every input file under a
    queried tb= directory) is pinned in tests/test_scoring_store.py.

    Scale: the pruned read touches |query terms| buckets; df is
    recomputed candidate-sized from exactly the pruned rows; the
    1-row stats marginal rides the export."""
    out = _shared_serving_export(spark, sf_dir)
    return _pruned_bm25_serve(spark, sf_dir, out, q_mod=250)


def _pruned_bm25_serve(
    spark: SparkSession, sf_dir: str, out: str, q_mod: int, k: int = 5
) -> DataFrame:
    """The shared q290-shape serve (also q292/q295, suite/ext11):
    query vocabulary collected driver-side (the serving planner's
    input — query-sized metadata, never cluster data) behind the
    `collect_pruning_terms` OOM guard — a pathological batch whose
    vocabulary exceeds the cap serves UNPRUNED instead of OOMing the
    driver (r15 verdict item 4; fallback pinned by
    tests/test_scoring_store.py) — tf read pruned to its buckets,
    stats from the layout's meta-paired 1-row marginal."""
    from patientdataintegration_spark.operators.indexing import bm25_from_store
    from patientdataintegration_spark.operators.textops import tokens
    from patientdataintegration_spark.streaming.index import (
        collect_pruning_terms,
        read_serving_relation,
        read_serving_stats,
    )

    d = load_table(spark, sf_dir, "documents")
    queries = d.filter(F.col("doc_id") % q_mod == 1).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    terms = collect_pruning_terms(
        queries.select(
            F.explode(F.array_distinct(tokens(F.col("text")))).alias("term")
        ).filter(F.col("term") != "")
    )
    tf_pruned = read_serving_relation(spark, out, "tf", terms)
    stats = read_serving_stats(spark, out)
    return bm25_from_store(tf_pruned, stats, queries, k=k, k1=1.2, b=0.75)


def _q291_sql(top_n: int = 10) -> str:
    # identical recompute contract to q286 — the bucketed positional
    # layout and the partition-pruned read must be invisible to
    # phrase values
    return _q286_sql(top_n)


@_register("q291_phrase_pruned_serving", _q291_sql())
def q291_phrase_pruned_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-term phrases from the BUCKETED POSITIONAL EXPORT with
    partition pruning — q290's serving-tier treatment applied to the
    phrase family, closing the symmetry: q286 streams the whole
    maintained `pos` satellite behind a broadcast semi-probe (one
    full-satellite scan per phrase batch — the analytics shape),
    while here the export hive-partitions positions by the md5 term
    bucket and the phrase terms map to a partition filter
    DRIVER-SIDE, so the scan reads only the queried terms' buckets —
    at 100 TB the positional relation is the STORE'S LARGEST
    (O(total tokens), dwarfing postings and tf), which makes pruning
    matter most exactly here. Queries are q286's hottest-term triples
    (hot-term DISCOVERY stays an analytics read of the maintained
    index; SERVING takes the resulting ~12-term vocabulary as its
    planner input); the oracle is q286's raw-text recompute, so the
    driver hash proves layout + pruning invisible to phrase
    semantics, and the PartitionFilters IN-set proof for the pos
    relation is pinned in tests/test_scoring_store.py.

    Scale: |phrase terms| buckets of 1/n_buckets each, the alignment
    join and aggregate over queried postings only."""
    from patientdataintegration_spark.operators.indexing import (
        phrase_retrieval_nterm,
    )
    from patientdataintegration_spark.streaming.index import (
        read_index_store,
        read_serving_relation,
    )

    out = _shared_serving_export(spark, sf_dir)
    store = _shared_serving_store(spark, sf_dir)
    index = read_index_store(spark, store, "index")
    hot = index.select("term", "doc_freq").orderBy(
        F.col("doc_freq").desc(), F.col("term").asc()
    ).limit(10)
    w = Window.orderBy(F.col("doc_freq").desc(), F.col("term").asc())
    ranked = hot.withColumn("r", F.row_number().over(w)).select("term", "r")
    triples = (
        ranked.alias("x")
        .join(ranked.alias("y"), F.col("y.r") == F.col("x.r") + 1)
        .join(ranked.alias("z"), F.col("z.r") == F.col("x.r") + 2)
        .select(
            F.col("x.r").alias("phrase_id"),
            F.col("x.term").alias("term_a"),
            F.col("y.term").alias("term_b"),
            F.col("z.term").alias("term_c"),
            F.array("x.term", "y.term", "z.term").alias("terms"),
        )
        .localCheckpoint()  # consumers: the planner collect + two joins
    )
    # the serving planner's input: the phrase vocabulary, driver-side
    # (10 hot terms — query-sized metadata)
    terms = sorted(
        {t for r in triples.select("terms").collect() for t in r["terms"]}
    )
    positions = read_serving_relation(spark, out, "pos", terms)
    hits = phrase_retrieval_nterm(
        positions, triples.select("phrase_id", "terms")
    )
    return (
        hits.join(
            F.broadcast(
                triples.select("phrase_id", "term_a", "term_b", "term_c")
            ),
            "phrase_id",
        )
        .groupBy("term_a", "term_b", "term_c")
        .agg(
            F.countDistinct("doc").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.min("doc").cast("bigint").alias("min_doc"),
            F.max("doc").cast("bigint").alias("max_doc"),
        )
    )
