"""Round-15 additions — the serving tier becomes INCREMENTAL and
SYMMETRIC (the r14 verdict's ranked list, items 1/2/3/6): q292 (BM25
served from an export kept current by `refresh_serving_layout` — the
refresh rewrites ONLY the buckets containing terms dirtied since the
exported version, and must be invisible to values), q293 (conjunctive
retrieval served from PRUNED (index, overflow) buckets — the q290
treatment extended past the satellites to the core factorization),
q294 (the maintained IVF store gains a point-read serving export:
`assigned` hive-partitioned by probe cell, the centroid table as the
DRIVER-SIDE planner input — `term_bucket_py`'s geometric twin), and
q295 (a TIME-TRAVELED serving export: the layout pinned at a
historical store version, so yesterday's corpus serves today at
point-read cost — q287's semantics at q290's price). Late-round
additions complete the tier: q296 (the IVF export refreshes
incrementally — dirty cells rewrite, takedowns become merge-on-read
delete files), q297 (proximity ranking — min token gap per pair —
from the pruned positional buckets via a linear merged-adjacency
window), q298 (the erasure-SLA certificate extended to every
exported layout, postings arrays and delete files included), and
q299/q300 (CONTINUOUS serving: index_stream/ivf_stream refresh
their exports inline at the end of every micro-batch, so the
point-read layouts follow the streams with no scheduled job).

Scale stance (100 TB): together these close the serving tier's
remaining full-scan costs. The refresh (q292) is the one that bites first in
production — without it every maintenance window forces a
corpus-sized re-export; with it the refresh is O(dirty terms' rows +
their buckets), proven byte-identical on untouched buckets by
tests/test_scoring_store.py. q293 makes the boolean-AND auditor query
read |query terms| buckets instead of streaming index+overflow behind
semi-probes; q294 does the same for ANN top-k (|probe cells| / n_cells
of the inverted file, pruned at plan time); q295 prices as-of audits
like present-day serves.

Exactness: every lane's oracle recomputes from raw text / raw vectors
over the corpus state being served, so the driver hash proves layout,
pruning, refresh and time travel are all invisible to values — the
q285/q290 discipline (shared `_bm25_impact` tree, round-6-then-
DECIMAL sums, integer positions/counts, the deterministic Lloyd
quantizer for q294).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from patientdataintegration_spark.sources.catalog import load_table
from patientdataintegration_spark.suite.ext10 import (
    _STORE_MEMO,
    _bm25_ctes,
    _pruned_bm25_serve,
    _stream_crud_store,
)

QUERIES: dict = {}
ORACLES: dict = {}


def _register(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


def _refresh_store(spark: SparkSession, sf_dir: str) -> str:
    """The CRUD-maintained tf-satellite store the refresh/time-travel
    export lanes (q292/q295) share: the q283 two-run schedule (so
    versions 1 and 2 are distinct committed generations), built once
    per process."""
    return _stream_crud_store(
        spark, sf_dir, "refresh_store", tf_seed=True,
    )


def _refreshed_serving_export(spark: SparkSession, sf_dir: str) -> str:
    """The q292 layout: exported AT version 1, then incrementally
    refreshed to the store's latest version — batch 2's dirty terms
    map to buckets, only those buckets rewrite. Built once per
    process; the refresh MUST take the incremental path (the full
    fallback would make the lane vacuous), asserted here."""
    from patientdataintegration_spark.scratch import scratch_dir
    from patientdataintegration_spark.streaming.index import (
        export_serving_layout,
        refresh_serving_layout,
    )

    key = ("refresh_export", sf_dir)
    memo = _STORE_MEMO.get(key)
    if memo is not None and os.path.isdir(memo):
        return memo
    store = _refresh_store(spark, sf_dir)
    out = scratch_dir("refresh_export", sf_dir)
    export_serving_layout(
        spark, store, out, relations=("tf",), n_buckets=64, version=1
    )
    res = refresh_serving_layout(spark, store, out)
    if res["mode"] != "incremental":
        raise RuntimeError(
            f"q292 refresh took the {res['mode']!r} path — the lane "
            "exists to prove the incremental rewrite"
        )
    _STORE_MEMO[key] = out
    return out


def _ttravel_serving_export(spark: SparkSession, sf_dir: str) -> str:
    """The q295 layout: exported at PINNED version 1 of the same
    maintained store — batch 2's ingests and takedowns must both be
    invisible to every read of this layout."""
    from patientdataintegration_spark.scratch import scratch_dir
    from patientdataintegration_spark.streaming.index import (
        export_serving_layout,
    )

    key = ("ttravel_export", sf_dir)
    memo = _STORE_MEMO.get(key)
    if memo is not None and os.path.isdir(memo):
        return memo
    store = _refresh_store(spark, sf_dir)
    out = scratch_dir("ttravel_export", sf_dir)
    export_serving_layout(
        spark, store, out, relations=("tf",), n_buckets=64, version=1
    )
    _STORE_MEMO[key] = out
    return out


def _ivf_serving_export(spark: SparkSession, sf_dir: str) -> str:
    """The q294 layout: the q284-schedule CRUD-maintained IVF store
    (seed third quantizer, two ingest waves + vec_id % 7 == 3
    takedowns in one availableNow drain — batch-grouping-invariant),
    exported cell-partitioned. Built once per process."""
    from patientdataintegration_spark.scratch import scratch_dir
    from patientdataintegration_spark.streaming.ivf import (
        export_ivf_serving_layout,
        ivf_stream,
        seed_ivf_store,
    )
    from patientdataintegration_spark.suite.ext import cached_stream_seed_ivf

    key = ("ivf_export", sf_dir)
    memo = _STORE_MEMO.get(key)
    if memo is not None and os.path.isdir(memo):
        return memo
    e = load_table(spark, sf_dir, "embeddings")
    assigned0, centroids0 = cached_stream_seed_ivf(spark, sf_dir)
    root = scratch_dir("ivf_export_store", sf_dir)
    src, store, ckpt = (f"{root}/{p}" for p in ("src", "store", "ckpt"))
    os.makedirs(src)
    os.makedirs(store)
    seed_ivf_store(assigned0, centroids0, store)
    ingest = e.filter(F.col("vec_id") % 3 != 0).select(
        "vec_id", "embedding", F.lit(1).cast("int").alias("op")
    )
    takedowns = e.filter(F.col("vec_id") % 7 == 3).select(
        "vec_id",
        F.lit(None).cast("array<float>").alias("embedding"),
        F.lit(-1).cast("int").alias("op"),
    )
    ingest.unionByName(takedowns).coalesce(1).write.mode("append").parquet(src)
    ivf_stream(
        spark, src, "*.parquet", store, ckpt, op_col="op", compact_every=0
    )
    out = f"{root}/export"
    export_ivf_serving_layout(spark, store, out)
    _STORE_MEMO[key] = out
    return out


def prebuild_serving_stores(spark: SparkSession, sf_dir: str) -> dict:
    """Build (and memoize) every shared store/export the serving
    lanes read, returning per-artifact build seconds — bench.py's
    declared BUILD/SERVE split (r14 verdict item 7): store
    construction is a one-off maintenance job (the q288 nightly
    shape), so the headline per-lane numbers should price the SERVE,
    with the build cost reported beside them instead of landing on
    whichever lane happens to run first."""
    import time

    from patientdataintegration_spark.suite.ext10 import (
        _shared_serving_export,
        _shared_serving_store,
    )

    steps = [
        ("serve_store", lambda: _shared_serving_store(spark, sf_dir)),
        ("serve_export", lambda: _shared_serving_export(spark, sf_dir)),
        (
            "ttravel_index",
            lambda: _stream_crud_store(spark, sf_dir, "ttravel_index"),
        ),
        (
            "offline_compact_index",
            lambda: _stream_crud_store(
                spark, sf_dir, "offline_compact_index", compact_between=True
            ),
        ),
        ("refresh_store", lambda: _refresh_store(spark, sf_dir)),
        ("refresh_export", lambda: _refreshed_serving_export(spark, sf_dir)),
        ("ttravel_export", lambda: _ttravel_serving_export(spark, sf_dir)),
        ("ivf_export", lambda: _ivf_serving_export(spark, sf_dir)),
        (
            "ivf_refresh_export",
            lambda: _ivf_refreshed_export(spark, sf_dir),
        ),
        (
            "continuous_export",
            lambda: _continuous_serving_export(spark, sf_dir),
        ),
        (
            "ivf_continuous_export",
            lambda: _ivf_continuous_export(spark, sf_dir),
        ),
    ]
    builds = {}
    for name, fn in steps:
        t0 = time.time()
        fn()
        builds[name] = round(time.time() - t0, 3)
    return builds


# the shared q290-shape serve lives beside q290 (suite/ext10); the
# refresh/time-travel lanes here reuse it verbatim


def _q292_sql(k: int = 5) -> str:
    # identical recompute contract to q290 over the NET corpus — the
    # incremental refresh must be invisible to values — with its own
    # query set (every 125th-plus-one document)
    return f"""
    WITH {_bm25_ctes("doc_id % 125 = 1")}
    SELECT CAST(qid AS BIGINT) AS query_id,
           CAST(d AS BIGINT) AS doc_id,
           CAST(s AS DOUBLE) AS score,
           rnk
    FROM r WHERE rnk <= {k}
    """


@_register("q292_refreshed_pruned_serving", _q292_sql())
def q292_refreshed_pruned_serving(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BM25 served from an INCREMENTALLY REFRESHED export
    (`streaming/index.refresh_serving_layout`) — the r14 verdict's
    lead item: q290's export pins one version and every refresh was a
    full corpus-sized rewrite, so a serving user refreshing after
    each maintenance window paid the whole store each time. The store
    already records each generation's dirty-term set
    (`delta_g{g}/terms/`), so the refresh diffs the exported version
    (1: seed + batch-1 state) against the current committed version
    (2: batch-2 ingests + every-fifth-doc takedowns), maps the dirty
    terms to buckets with `term_bucket`, and rewrites ONLY those
    partitions — new bucket content = the bucket's old rows (read
    PRUNED) minus dirty terms, union the dirty terms' latest-
    generation rows; emptied buckets delete explicitly; the meta
    version flips atomically last. The serve is q290's verbatim
    (query vocabulary driver-side, pruned tf read, 1-row stats);
    the oracle recomputes BM25 from raw text over the NET corpus, so
    the driver hash proves the refresh is invisible to values.
    Untouched buckets staying byte-identical (same mtime, same
    bytes) and the GC-fallback path are pinned by
    tests/test_scoring_store.py; the builder raises if the refresh
    did not take the incremental path.

    Scale: refresh cost is O(dirty terms' rows + their buckets'
    rows) — the maintenance window's size, never the store's; the
    serve stays |query terms| pruned buckets."""
    out = _refreshed_serving_export(spark, sf_dir)
    return _pruned_bm25_serve(spark, sf_dir, out, q_mod=125)


def _hot_pair_plan(spark: SparkSession, sf_dir: str):
    """(shared serving export dir, the net corpus's 9 hottest-
    consecutive-term pairs, the 10-term hot vocabulary) — the shared
    front half of the pruned-serving retrieval lanes (q293/q297):
    discovery stays an ANALYTICS read of the maintained index (the
    q291 division of labor), and SERVING takes the resulting
    vocabulary as its driver-side planner input (query-sized
    metadata, never corpus data)."""
    from patientdataintegration_spark.streaming.index import read_index_store
    from patientdataintegration_spark.suite.ext10 import (
        _shared_serving_export,
        _shared_serving_store,
    )

    out = _shared_serving_export(spark, sf_dir)
    store = _shared_serving_store(spark, sf_dir)
    index = read_index_store(spark, store, "index")
    hot = index.select("term", "doc_freq").orderBy(
        F.col("doc_freq").desc(), F.col("term").asc()
    ).limit(10)
    w = Window.orderBy(F.col("doc_freq").desc(), F.col("term").asc())
    ranked = (
        hot.withColumn("r", F.row_number().over(w))
        .select("term", "r")
        .localCheckpoint()  # consumers: the planner collect + the pair join
    )
    pairs = (
        ranked.alias("x")
        .join(ranked.alias("y"), F.col("y.r") == F.col("x.r") + 1)
        .select(
            F.col("x.term").alias("term_a"), F.col("y.term").alias("term_b")
        )
    )
    terms = sorted({r["term"] for r in ranked.select("term").collect()})
    return out, pairs, terms


def _q293_sql(top_n: int = 10) -> str:
    # q279's exact conjunctive contract over the NET corpus — the
    # bucketed (index, overflow) export and the partition-pruned read
    # must be invisible to the intersections
    return f"""
    WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
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


@_register("q293_conjunctive_pruned_serving", _q293_sql())
def q293_conjunctive_pruned_serving(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Conjunctive (boolean-AND) retrieval served from the BUCKETED
    (index, overflow) EXPORT with partition pruning — the r14
    verdict's item 2, closing the export's asymmetry: q290/q291
    pruned the tf/pos satellites, but q279/q287's intersections still
    streamed the full core factorization behind semi-probes. The
    shared serving export now carries all four term-grain relations;
    the queries are the net corpus's 9 hottest-consecutive-term pairs
    (discovery stays an analytics read of the maintained index — the
    q291 division of labor; SERVING takes the resulting 10-term
    vocabulary as its driver-side planner input), both relations read
    |query terms| pruned buckets, and `conjunctive_retrieval`'s
    full_postings ∪-then-intersect runs over exactly those rows. The
    oracle recomputes the intersections from raw text over the net
    corpus, so the driver hash proves the capped-array + overflow
    factorization stays LOSSLESS through the bucketed layout and the
    pruned read; the PartitionFilters IN-set plan proof rides
    tests/test_scoring_store.py's battery.

    Scale: the 100 TB contamination-audit AND-query reads ~2 buckets
    of 1/64 each instead of two full relation scans — the Lucene
    term-dictionary seek, now for the postings themselves."""
    from patientdataintegration_spark.operators.indexing import (
        conjunctive_retrieval,
    )
    from patientdataintegration_spark.streaming.index import (
        read_serving_relation,
    )

    out, pairs, terms = _hot_pair_plan(spark, sf_dir)
    idx_pruned = read_serving_relation(spark, out, "index", terms)
    of_pruned = read_serving_relation(spark, out, "overflow", terms)
    hits = conjunctive_retrieval(idx_pruned, of_pruned, pairs)
    return hits.groupBy("term_a", "term_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("doc").cast("bigint").alias("min_doc"),
        F.max("doc").cast("bigint").alias("max_doc"),
    )


def _q294_sql() -> str:
    # the full recompute q284 proved: quantizer trained on the seed
    # slice, assignment of every vector, probe+rerank over the
    # takedown survivors — the cell-partitioned export and the pruned
    # read must be invisible to the search
    from patientdataintegration_spark.suite.ext9 import _q284_sql

    return _q284_sql()


@_register("q294_ivf_pruned_serving", _q294_sql())
def q294_ivf_pruned_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k served from the IVF SERVING EXPORT with partition
    pruning (`streaming/ivf.export_ivf_serving_layout` +
    `read_ivf_serving`) — the r14 verdict's item 3, the q290 pattern's
    geometric twin: the maintained inverted file (built by q284's full
    CRUD stream — seed third, two ingest waves, vec_id % 7 == 3
    takedowns, all in one availableNow drain) exports hive-partitioned
    by its natural serving key, the PROBE CELL, with the tiny frozen
    centroid table as the DRIVER-SIDE planner input: each query
    vector ranks the centroids in plain Python (`ivf_probe_cells_py` —
    bit-faithful to `ivf_search`'s sequential-fold distance and tie
    rule, so the pruned partitions are exactly a superset of what the
    search probes), the probe-cell union lands as the partition
    filter, and `ivf_search` reranks only those cells' vectors. The
    oracle replays the entire pipeline — quantizer on the seed slice,
    assignment of every vector, search over the survivors — so the
    driver hash proves export + pruning are invisible to the search.
    The queries' vectors are a query batch (planner metadata), the
    q290 collect adjudication.

    Scale: |probe cells| / n_cells of the inverted file read per
    query batch, pruned at plan time — the FAISS nprobe seek as a
    partition filter; takedowns already folded into the exported
    rows, so no anti-join rides the serve."""
    from patientdataintegration_spark.operators.similarity import ivf_search
    from patientdataintegration_spark.streaming.ivf import (
        ivf_probe_cells_py,
        read_ivf_serving,
        read_ivf_serving_centroids,
    )

    e = load_table(spark, sf_dir, "embeddings")
    out = _ivf_serving_export(spark, sf_dir)
    queries = e.filter(F.col("vec_id") % 100 == 0)
    # the serving planner's inputs, driver-side: the query batch's
    # vectors and the ≤ n_cells centroid table
    qvecs = [
        [float(x) for x in r["embedding"]]
        for r in queries.select("embedding").collect()
    ]
    cents = read_ivf_serving_centroids(spark, out).collect()
    cells = ivf_probe_cells_py(
        qvecs,
        [(r["cell"], [float(x) for x in r["centroid"]]) for r in cents],
        n_probe=4,
    )
    assigned, centroids = read_ivf_serving(spark, out, cells)
    return ivf_search(
        queries, assigned, centroids, k=3, n_probe=4
    ).withColumnRenamed("rank", "rnk")


def _q295_sql(k: int = 5) -> str:
    # the recompute over the AS-OF-VERSION-1 corpus (seed third +
    # batch-1 third, no takedowns — those ride batch 2, invisible to
    # the pinned export): q287's corpus spelling with q290's BM25 body
    return f"""
    WITH {_bm25_ctes("doc_id % 200 = 1", "doc_id % 3 <> 2")}
    SELECT CAST(qid AS BIGINT) AS query_id,
           CAST(d AS BIGINT) AS doc_id,
           CAST(s AS DOUBLE) AS score,
           rnk
    FROM r WHERE rnk <= {k}
    """


@_register("q295_time_travel_export_serving", _q295_sql())
def q295_time_travel_export_serving(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A TIME-TRAVELED serving export (r14 verdict item 6): q287
    proved time-traveling the STORE READ; this lane exports the
    layout itself AT pinned version 1 — after the store has already
    advanced to version 2 (batch-2 ingests AND every-fifth-doc
    takedowns) — and serves BM25 from it at point-read cost. Batch
    2's ingests must be invisible and its takedowns must RE-APPEAR
    (the pinned export is the historical state, not a filtered view
    of the present); the oracle recomputes BM25 from raw text over
    the as-of corpus (seed third + batch-1 third, q287's corpus
    spelling with q290's BM25 body), so the driver hash proves the
    historical export is value-identical to having exported
    yesterday. The serve is q290's verbatim over its own query set
    (every 200th-plus-one document).

    Scale: an as-of audit ("what did we serve last Tuesday?") costs
    |query terms| pruned buckets, the same as serving today — the
    export reads base + retained deltas at the pinned version once,
    offline."""
    out = _ttravel_serving_export(spark, sf_dir)
    return _pruned_bm25_serve(spark, sf_dir, out, q_mod=200)


def _ivf_refreshed_export(spark: SparkSession, sf_dir: str) -> str:
    """The q296 layout: the q284 CRUD schedule split around the
    export — seed third quantizer, batch 1 ingests the second third,
    the layout exports AT that version, then batch 2 ingests the
    final third AND carries the vec_id % 7 == 3 takedowns, and
    `refresh_ivf_serving_layout` moves the layout forward. The
    refresh MUST take the incremental path (asserted — the full
    fallback would make the lane vacuous). Built once per process."""
    from patientdataintegration_spark.scratch import scratch_dir
    from patientdataintegration_spark.streaming.ivf import (
        export_ivf_serving_layout,
        ivf_stream,
        refresh_ivf_serving_layout,
        seed_ivf_store,
    )
    from patientdataintegration_spark.suite.ext import cached_stream_seed_ivf

    key = ("ivf_refresh_export", sf_dir)
    memo = _STORE_MEMO.get(key)
    if memo is not None and os.path.isdir(memo):
        return memo
    e = load_table(spark, sf_dir, "embeddings")
    assigned0, centroids0 = cached_stream_seed_ivf(spark, sf_dir)
    root = scratch_dir("ivf_refresh_store", sf_dir)
    src, store, ckpt = (f"{root}/{p}" for p in ("src", "store", "ckpt"))
    os.makedirs(src)
    os.makedirs(store)
    seed_ivf_store(assigned0, centroids0, store)
    batch1 = e.filter(F.col("vec_id") % 3 == 1).select(
        "vec_id", "embedding", F.lit(1).cast("int").alias("op")
    )
    batch1.coalesce(1).write.mode("append").parquet(src)
    ivf_stream(
        spark, src, "*.parquet", store, ckpt, op_col="op", compact_every=0
    )
    out = f"{root}/export"
    export_ivf_serving_layout(spark, store, out)
    takedowns = e.filter(F.col("vec_id") % 7 == 3).select(
        "vec_id",
        F.lit(None).cast("array<float>").alias("embedding"),
        F.lit(-1).cast("int").alias("op"),
    )
    batch2 = e.filter(F.col("vec_id") % 3 == 2).select(
        "vec_id", "embedding", F.lit(1).cast("int").alias("op")
    )
    batch2.unionByName(takedowns).coalesce(1).write.mode("append").parquet(
        src
    )
    ivf_stream(
        spark, src, "*.parquet", store, ckpt, op_col="op", compact_every=0
    )
    res = refresh_ivf_serving_layout(spark, store, out)
    if res["mode"] != "incremental":
        raise RuntimeError(
            f"q296 refresh took the {res['mode']!r} path — the lane "
            "exists to prove the incremental rewrite"
        )
    _STORE_MEMO[key] = out
    return out


def _q296_sql() -> str:
    # q284's full-pipeline recompute over the NET corpus — the
    # incrementally refreshed cell-partitioned layout must be
    # invisible to the search
    from patientdataintegration_spark.suite.ext9 import _q284_sql

    return _q284_sql()


@_register("q296_ivf_refreshed_serving", _q296_sql())
def q296_ivf_refreshed_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k served from an INCREMENTALLY REFRESHED IVF export
    (`streaming/ivf.refresh_ivf_serving_layout`) — q292's row-grain
    twin, closing the serving tier's last full-scan cost: q294's
    export pins one version and re-exporting after every maintenance
    window is a corpus-sized job. The refresh reads only the range's
    delta generations: live inserts (the store's same-batch-dies rule
    applied within the range) rewrite exactly the cells they land in
    by dynamic partition overwrite, and takedowns never hunt for
    their victim's partition — they MERGE into the delta-sized
    delete-file side relation (per-id max tombstone generation, the
    Iceberg/Hudi merge-on-read pattern) that the pruned read
    anti-applies with the store's own liveness rule, so a re-insert
    above its tombstone lives while the tombstoned row in a
    never-rewritten cell dies. The serve is q294's verbatim: the
    query batch ranks the frozen centroid table driver-side
    (`ivf_probe_cells_py`), the probe-cell union lands as the
    partition filter, `ivf_search` reranks only those cells. The
    oracle replays the ENTIRE pipeline over the net corpus (q284's
    recompute, takedowns applied), so the driver hash proves the
    incremental refresh + MoR tombstones are invisible to the
    search; untouched-cell byte-identity, the tombs-only serve path
    and the GC fallback are pinned by tests/test_streaming_ivf.py.

    Scale: refresh cost is O(inserted rows + their cells' rows +
    tombstone ids) — the maintenance window's size, never the
    inverted file's; the serve stays |probe cells| pruned partitions
    plus one broadcast anti-join on the delta-sized delete files."""
    from patientdataintegration_spark.operators.similarity import ivf_search
    from patientdataintegration_spark.streaming.ivf import (
        ivf_probe_cells_py,
        read_ivf_serving,
        read_ivf_serving_centroids,
    )

    e = load_table(spark, sf_dir, "embeddings")
    out = _ivf_refreshed_export(spark, sf_dir)
    queries = e.filter(F.col("vec_id") % 100 == 0)
    qvecs = [
        [float(x) for x in r["embedding"]]
        for r in queries.select("embedding").collect()
    ]
    cents = read_ivf_serving_centroids(spark, out).collect()
    cells = ivf_probe_cells_py(
        qvecs,
        [(r["cell"], [float(x) for x in r["centroid"]]) for r in cents],
        n_probe=4,
    )
    assigned, centroids = read_ivf_serving(spark, out, cells)
    return ivf_search(
        queries, assigned, centroids, k=3, n_probe=4
    ).withColumnRenamed("rank", "rnk")


def _q297_sql(top_n: int = 10, k: int = 5) -> str:
    # proximity recomputed from the NET corpus's raw text with the
    # q286 position convention (1-based, assigned before the
    # empty-token filter); the oracle takes the O(occ_a × occ_b)
    # pairing MIN — provably equal to the engine's merged-adjacency
    # linear form, and integer-exact either way
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
      SELECT a.term AS term_a, b.term AS term_b
      FROM hr a JOIN hr b ON b.r = a.r + 1
    ),
    m AS (
      SELECT p.term_a, p.term_b, x.doc_id AS doc,
             MIN(ABS(x.pos - y.pos)) AS min_gap
      FROM p
      JOIN pos x ON x.term = p.term_a
      JOIN pos y ON y.term = p.term_b AND y.doc_id = x.doc_id
      GROUP BY 1, 2, 3
    ),
    r AS (
      SELECT term_a, term_b, doc, min_gap,
             row_number() OVER (PARTITION BY term_a, term_b
                                ORDER BY min_gap ASC, doc ASC) AS rnk
      FROM m
    )
    SELECT term_a, term_b,
           CAST(doc AS BIGINT) AS doc,
           CAST(min_gap AS BIGINT) AS min_gap,
           rnk
    FROM r WHERE rnk <= {k}
    """


@_register("q297_proximity_pruned_serving", _q297_sql())
def q297_proximity_pruned_serving(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PROXIMITY ranking served from the PRUNED positional export
    (`operators/indexing.proximity_pair_topk`) — the retrieval mode
    between exact phrase (q291) and bag-of-words BM25 (q290), the
    Lucene sloppy-PhraseQuery analogue: for each of the net corpus's
    9 hottest-consecutive-term pairs, the top-5 documents by MINIMAL
    token distance between the two terms' occurrences. The engine
    never pairs occurrences quadratically: both terms' pruned
    positional rows merge into one position-sorted sequence per
    (pair, doc) and a single lag window reads the minimum
    opposite-term gap off adjacent rows (any occurrence strictly
    between a closest pair would form a closer pair with one of its
    endpoints — one term per position makes the argument exact). The
    oracle recomputes positions from raw text and takes the
    quadratic-pairing MIN — provably the same integer — so the
    driver hash proves the linear window form, the maintained
    positional satellite AND the bucketed pruned read are all
    invisible to values.

    Scale: |query terms| pruned buckets in, one (pair, doc)-keyed
    window over queried-term occurrences only — proximity reranking
    at 100 TB costs the same pruned read as phrase serving, with no
    occurrence cross product (a hot term with 10³ occurrences per
    doc would fan a quadratic join to 10⁶ rows per doc; the merge
    stays at 2×10³)."""
    from patientdataintegration_spark.operators.indexing import (
        proximity_pair_topk,
    )
    from patientdataintegration_spark.streaming.index import (
        read_serving_relation,
    )

    out, pairs, terms = _hot_pair_plan(spark, sf_dir)
    pos_pruned = read_serving_relation(spark, out, "pos", terms)
    return proximity_pair_topk(pos_pruned, pairs, k=5)


def _q298_sql(cap: int = 16) -> str:
    # expected row counts recomputed from raw text / raw vectors over
    # each layout's net corpus; every refs_to_deleted is literally 0 —
    # the certificate's claim — and the n_rows parity is what proves
    # the engine actually scanned the real exported artifacts
    return f"""
    WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
    tok AS (
      SELECT doc_id, term
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM corpus)
      WHERE term <> ''
    ),
    t AS (SELECT DISTINCT doc_id, term FROM tok),
    d AS (SELECT term, COUNT(*) AS df FROM t GROUP BY term),
    ivf_net AS (SELECT COUNT(*) AS n FROM embeddings WHERE vec_id % 7 <> 3)
    SELECT 'serve_tf' AS artifact,
           CAST((SELECT COUNT(*) FROM t) AS BIGINT) AS n_rows,
           CAST(0 AS BIGINT) AS refs_to_deleted
    UNION ALL SELECT 'serve_pos',
           CAST((SELECT COUNT(*) FROM tok) AS BIGINT), CAST(0 AS BIGINT)
    UNION ALL SELECT 'serve_index',
           CAST((SELECT COUNT(*) FROM d) AS BIGINT), CAST(0 AS BIGINT)
    UNION ALL SELECT 'serve_overflow',
           CAST((SELECT COALESCE(SUM(GREATEST(df - {cap}, 0)), 0) FROM d)
                AS BIGINT),
           CAST(0 AS BIGINT)
    UNION ALL SELECT 'refresh_tf',
           CAST((SELECT COUNT(*) FROM t) AS BIGINT), CAST(0 AS BIGINT)
    UNION ALL SELECT 'ivf_export',
           CAST((SELECT n FROM ivf_net) AS BIGINT), CAST(0 AS BIGINT)
    UNION ALL SELECT 'ivf_export_mor_served',
           CAST((SELECT n FROM ivf_net) AS BIGINT), CAST(0 AS BIGINT)
    """


@_register("q298_export_erasure_sla", _q298_sql())
def q298_export_erasure_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ERASURE-SLA certificate EXTENDED TO THE SERVING EXPORTS —
    q278's question one hop further out: the store retracted the
    takedown set, but did the SERVING COPIES? Every exported layout a
    query can be served from is scanned in full (corpus-grain by
    design — this is the auditor's nightly job, not a point read) and
    certified (artifact, n_rows, refs_to_deleted):

    - serve_tf / serve_pos / serve_index / serve_overflow — the
      shared bucketed export (q290/q291/q293): refs scan the doc
      column, and for the index relation the POSTINGS ARRAYS
      themselves (a deleted doc hiding inside a capped posting list
      is the failure mode the row-count alone would miss);
    - refresh_tf — the incrementally refreshed export (q292): the
      refresh path must erase as thoroughly as the full path;
    - ivf_export — the full IVF export (q294): physically clean,
      takedowns folded before the write;
    - ivf_export_mor_served — the merge-on-read refreshed layout
      (q296) read THROUGH `read_ivf_serving`: the delete files must
      hide every tombstoned vector the never-rewritten cells still
      physically hold. (Physical residue in MoR files is by design
      until the next full re-export — the fold point; version-pinned
      time-travel layouts are likewise retention-policy artifacts,
      deleted per policy, not scrubbed in place.)

    n_rows parity against the oracle's raw-text/raw-vector recompute
    proves the certificate scanned the real artifacts; refs == 0 is
    the SLA. Every row is a single-row aggregate — no row-level
    diffs, the q278 discipline.

    Scale: one pruned-free scan per exported relation, embarrassingly
    parallel over buckets/cells; refs predicates are per-row integer
    mods (JVM-codegen), the postings check one `filter` over each
    array — the nightly compliance job's exact cost envelope."""
    from patientdataintegration_spark.streaming.index import (
        INDEX_SCHEMA,
        OVERFLOW_SCHEMA,
        POS_SCHEMA,
        TF_SCHEMA,
    )
    from patientdataintegration_spark.streaming.ivf import (
        SERVED_SCHEMA,
        read_ivf_serving,
        read_ivf_serving_centroids,
    )
    from patientdataintegration_spark.streaming.serving import read_relation
    from patientdataintegration_spark.suite.ext10 import (
        _shared_serving_export,
    )

    serve_out = _shared_serving_export(spark, sf_dir)
    refresh_out = _refreshed_serving_export(spark, sf_dir)
    ivf_full = _ivf_serving_export(spark, sf_dir)
    ivf_mor = _ivf_refreshed_export(spark, sf_dir)

    def cert(artifact: str, df: DataFrame, refs) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.coalesce(F.sum(refs), F.lit(0))
            .cast("bigint")
            .alias("refs_to_deleted"),
        ).select(
            F.lit(artifact).alias("artifact"), "n_rows", "refs_to_deleted"
        )

    def served(out: str, name: str, schema: str) -> DataFrame:
        return read_relation(spark, out, name, f"{schema}, tb int")

    doc_deleted = (F.col("doc") % 5 == 0).cast("int")
    rows = [
        cert(f"serve_{name}", served(serve_out, name, schema), doc_deleted)
        for name, schema in (
            ("tf", TF_SCHEMA),
            ("pos", POS_SCHEMA),
            ("overflow", OVERFLOW_SCHEMA),
        )
    ]
    rows.append(
        cert(
            "serve_index",
            served(serve_out, "index", INDEX_SCHEMA),
            F.size(F.filter("postings", lambda x: x % 5 == 0)),
        )
    )
    rows.append(
        cert("refresh_tf", served(refresh_out, "tf", TF_SCHEMA), doc_deleted)
    )
    vec_deleted = (F.col("neighbor_id") % 7 == 3).cast("int")
    rows.append(cert(
        "ivf_export",
        read_relation(spark, ivf_full, "assigned", SERVED_SCHEMA),
        vec_deleted,
    ))
    all_cells = sorted(
        r["cell"]
        for r in read_ivf_serving_centroids(spark, ivf_mor)
        .select("cell")
        .collect()
    )
    served, _cdf = read_ivf_serving(spark, ivf_mor, all_cells)
    rows.append(cert("ivf_export_mor_served", served, vec_deleted))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def _continuous_serving_export(spark: SparkSession, sf_dir: str) -> str:
    """The q299 layout: exported ONCE at the seed version, then never
    touched by hand — `index_stream(serving_out=...)` refreshes it
    inline at the end of every micro-batch (two availableNow runs →
    two incremental refreshes). Built once per process."""
    from patientdataintegration_spark.scratch import scratch_dir
    from patientdataintegration_spark.streaming.index import (
        export_serving_layout,
        index_stream,
        seed_index_store,
    )
    from patientdataintegration_spark.streaming.serving import (
        read_serving_meta,
    )
    from patientdataintegration_spark.suite.ext import (
        cached_stream_seed_inverted_index,
        cached_stream_seed_scoring,
    )

    key = ("continuous_export", sf_dir)
    memo = _STORE_MEMO.get(key)
    if memo is not None and os.path.isdir(memo):
        return memo
    d = load_table(spark, sf_dir, "documents")
    idx0, of0 = cached_stream_seed_inverted_index(spark, sf_dir)
    root = scratch_dir("continuous_store", sf_dir)
    src, store, ckpt, out = (
        f"{root}/{p}" for p in ("src", "store", "ckpt", "export")
    )
    os.makedirs(src)
    os.makedirs(store)
    seed_index_store(
        idx0, of0, store,
        tf_init=cached_stream_seed_scoring(spark, sf_dir),
    )
    export_serving_layout(spark, store, out, relations=("tf",), n_buckets=64)

    def run():
        index_stream(
            spark, src, "*.parquet", store, ckpt,
            op_col="op", compact_every=0, serving_out=out,
        )

    batch1 = d.filter(F.col("doc_id") % 3 == 1).select(
        "doc_id", "text", F.lit(1).cast("int").alias("op")
    )
    batch1.coalesce(1).write.mode("append").parquet(src)
    run()
    takedowns = d.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id",
        F.lit(None).cast("string").alias("text"),
        F.lit(-1).cast("int").alias("op"),
    )
    batch2 = d.filter(F.col("doc_id") % 3 == 2).select(
        "doc_id", "text", F.lit(1).cast("int").alias("op")
    ).unionByName(takedowns)
    batch2.coalesce(1).write.mode("append").parquet(src)
    run()
    v = int(read_serving_meta(out)["version"])
    if v != 2:
        raise RuntimeError(
            f"continuous serving left the layout at version {v}, "
            "expected 2 — the inline refresh did not follow the stream"
        )
    _STORE_MEMO[key] = out
    return out


def _q299_sql(k: int = 5) -> str:
    # q292's recompute contract over the NET corpus with q299's own
    # query set — the inline per-batch refresh must be invisible to
    # values, exactly like the scheduled one
    return f"""
    WITH {_bm25_ctes("doc_id % 150 = 1")}
    SELECT CAST(qid AS BIGINT) AS query_id,
           CAST(d AS BIGINT) AS doc_id,
           CAST(s AS DOUBLE) AS score,
           rnk
    FROM r WHERE rnk <= {k}
    """


@_register("q299_continuous_serving", _q299_sql())
def q299_continuous_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS SERVING — the streaming loop keeps the point-read
    layout fresh itself (`index_stream(serving_out=...)`): each
    micro-batch, after committing its upsert generation, runs the
    incremental refresh inline, so the bucketed export follows the
    stream one maintenance window behind NOTHING — there is no
    scheduled refresh job to fall behind, and a serving user reads
    the newest committed state at point-read cost the moment the
    batch lands. The builder seeds a store + layout at version 0 and
    drains the q283 CRUD schedule (batch 1 ingests, batch 2 ingests +
    every-fifth-doc takedowns) through two availableNow runs; each
    run's refresh rewrites only that batch's dirty-term buckets
    (byte-identity of the rest and empty-restart no-ops pinned by
    tests/test_scoring_store.py). The serve is q290's verbatim over
    its own query set; the oracle recomputes BM25 from raw text over
    the net corpus, so the driver hash proves the INLINE refresh is
    exactly as invisible to values as the scheduled one (q292).

    Scale: per batch the stream pays O(dirty terms' rows) for the
    store upsert PLUS O(dirty buckets' rows) for the layout — both
    maintenance-window-sized; a crash between the generation commit
    and the refresh costs one version of staleness, repaired by the
    next batch's refresh (never wrongness — the layout version is
    whatever its meta says it is)."""
    out = _continuous_serving_export(spark, sf_dir)
    return _pruned_bm25_serve(spark, sf_dir, out, q_mod=150)


def _ivf_continuous_export(spark: SparkSession, sf_dir: str) -> str:
    """The q300 layout: exported ONCE at the seed version, then kept
    fresh by `ivf_stream(serving_out=...)` — batch 1 ingests the
    second third, batch 2 (a checkpointed restart) ingests the final
    third plus the vec_id % 7 == 3 takedowns; each run's inline
    refresh advances the layout. Built once per process."""
    from patientdataintegration_spark.scratch import scratch_dir
    from patientdataintegration_spark.streaming.ivf import (
        export_ivf_serving_layout,
        ivf_stream,
        seed_ivf_store,
    )
    from patientdataintegration_spark.streaming.serving import (
        read_serving_meta,
    )
    from patientdataintegration_spark.suite.ext import cached_stream_seed_ivf

    key = ("ivf_continuous_export", sf_dir)
    memo = _STORE_MEMO.get(key)
    if memo is not None and os.path.isdir(memo):
        return memo
    e = load_table(spark, sf_dir, "embeddings")
    assigned0, centroids0 = cached_stream_seed_ivf(spark, sf_dir)
    root = scratch_dir("ivf_continuous_store", sf_dir)
    src, store, ckpt, out = (
        f"{root}/{p}" for p in ("src", "store", "ckpt", "export")
    )
    os.makedirs(src)
    os.makedirs(store)
    seed_ivf_store(assigned0, centroids0, store)
    export_ivf_serving_layout(spark, store, out)

    def run():
        ivf_stream(
            spark, src, "*.parquet", store, ckpt, op_col="op",
            compact_every=0, serving_out=out,
        )

    batch1 = e.filter(F.col("vec_id") % 3 == 1).select(
        "vec_id", "embedding", F.lit(1).cast("int").alias("op")
    )
    batch1.coalesce(1).write.mode("append").parquet(src)
    run()
    takedowns = e.filter(F.col("vec_id") % 7 == 3).select(
        "vec_id",
        F.lit(None).cast("array<float>").alias("embedding"),
        F.lit(-1).cast("int").alias("op"),
    )
    batch2 = e.filter(F.col("vec_id") % 3 == 2).select(
        "vec_id", "embedding", F.lit(1).cast("int").alias("op")
    ).unionByName(takedowns)
    batch2.coalesce(1).write.mode("append").parquet(src)
    run()
    v = int(read_serving_meta(out)["version"])
    if v != 2:
        raise RuntimeError(
            f"IVF continuous serving left the layout at version {v}, "
            "expected 2 — the inline refresh did not follow the stream"
        )
    _STORE_MEMO[key] = out
    return out


def _q300_sql() -> str:
    # q284's full-pipeline recompute over the net corpus — the inline
    # per-batch MoR refresh must be exactly as invisible to the
    # search as the scheduled one (q296)
    from patientdataintegration_spark.suite.ext9 import _q284_sql

    return _q284_sql()


@_register("q300_ivf_continuous_serving", _q300_sql())
def q300_ivf_continuous_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS SERVING for the ANN store — q299's geometric twin
    (`ivf_stream(serving_out=...)`): each micro-batch, after
    committing its row-grain generation, runs the incremental
    merge-on-read refresh inline — the batch's inserts rewrite only
    their probe cells and its takedowns merge into the delta-sized
    delete files — so the cell-partitioned layout follows the vector
    stream with no scheduled job, and the ANN serving user reads the
    newest committed inverted file at pruned point-read cost the
    moment the batch lands. The builder exports at the seed version
    and drains the q284 CRUD schedule through two checkpointed runs
    (batch 2 carries the vec_id % 7 == 3 takedowns, hitting seed,
    batch-1 and same-batch vectors alike). The serve is q294's
    verbatim (driver-side probe planner, cell partition filter,
    delete files anti-applied); the oracle replays the ENTIRE
    pipeline — quantizer on the seed slice, assignment of every
    vector, search over the survivors — so the driver hash proves
    the inline refresh is exactly as invisible to the search as the
    scheduled one (q296). Version tracking, MoR takedown serving and
    empty-restart no-ops are pinned by tests/test_streaming_ivf.py.

    Scale: per batch the stream pays O(|Δ| × n_cells) for assignment
    plus O(inserted rows' cells + tombstone ids) for the layout —
    both batch-sized; the corpus-sized inverted file is touched only
    by the pruned serve itself."""
    from patientdataintegration_spark.operators.similarity import ivf_search
    from patientdataintegration_spark.streaming.ivf import (
        ivf_probe_cells_py,
        read_ivf_serving,
        read_ivf_serving_centroids,
    )

    e = load_table(spark, sf_dir, "embeddings")
    out = _ivf_continuous_export(spark, sf_dir)
    queries = e.filter(F.col("vec_id") % 100 == 0)
    qvecs = [
        [float(x) for x in r["embedding"]]
        for r in queries.select("embedding").collect()
    ]
    cents = read_ivf_serving_centroids(spark, out).collect()
    cells = ivf_probe_cells_py(
        qvecs,
        [(r["cell"], [float(x) for x in r["centroid"]]) for r in cents],
        n_probe=4,
    )
    assigned, centroids = read_ivf_serving(spark, out, cells)
    return ivf_search(
        queries, assigned, centroids, k=3, n_probe=4
    ).withColumnRenamed("rank", "rnk")
