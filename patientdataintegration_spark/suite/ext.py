"""Extension query suite: text analysis, deduplication, similarity
search, and event-time analytics (north-star operators,
BASELINE.json) over `documents` / `embeddings` / `events`.

Oracle twins are generated alongside (md5-derived hashes and pure
integer/sequential-fold arithmetic keep them bit-exact — see
suite/__init__). Every lane registers with one, the structured-
streaming and pandas-UDF multimodal lanes included: their twins
replay the engine's micro-batch and decode semantics in SQL.

Scale stance (100 TB): the dedup/similarity lanes never enumerate
the quadratic pair space (banded LSH bucket joins, blocked jaccard
— see operators/dedup.py and operators/similarity.py for the
per-operator rationale); the text battery is single-scan with
map-side aggregation (operators/textops.py); streaming lanes keep
watermark-bounded state (streaming/events.py); the multimodal lanes
move bytes through Arrow-batched iterators with sampling pushed
below decode (operators/multimodal.py). Broadcasts are reserved for
dimension tables and one-row aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from patientdataintegration_spark.functions.deterministic import MODULUS
from patientdataintegration_spark.operators.dedup import (
    exact_dedup,
    minhash_params,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingle_table,
    simhash,
)
from patientdataintegration_spark.operators.similarity import cosine_topk
from patientdataintegration_spark.operators.textops import (
    LANG_MARKERS,
    lang_scores,
    quality_features,
    tokens,
)
from patientdataintegration_spark.sources.catalog import load_table
from patientdataintegration_spark.suite.registry import register


HEX_HASH_SQL = "CAST(('0x' || substr(md5({col}), 1, 14)) AS BIGINT)"


# --- text analysis -----------------------------------------------------------


@register(
    "q30_token_stats",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks, text FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           (length(text) - (len(toks) - 1)) / len(toks) AS avg_token_len,
           len(list_filter(toks, x -> x IN ('the','a','and','of','to','in'))) / len(toks) AS stopword_ratio
    FROM t
    """,
)
def q30_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token statistics per document (the LLM-pipeline
    quality-feature base): token count, average token length,
    stopword ratio from ONE split() per document (`operators/
    textops.quality_features`). Scale: map-side only — no shuffle,
    no UDF; arithmetic is integer-ratio exact for the oracle."""
    d = load_table(spark, sf_dir, "documents")
    return quality_features(d).select(
        "doc_id", "n_tokens", "avg_token_len", "stopword_ratio"
    )


def _lang_sql() -> str:
    score_cols = ",\n           ".join(
        "len(list_filter(toks, x -> x IN ({vals}))) / len(toks) AS score_{lang}".format(
            vals=", ".join(f"'{m}'" for m in markers), lang=lang
        )
        for lang, markers in LANG_MARKERS.items()
    )
    langs = list(LANG_MARKERS)
    cases = []
    for i, lang in enumerate(langs[:-1]):
        conds = " AND ".join(
            f"score_{lang} >= score_{o}" for o in langs[i + 1 :]
        )
        cases.append(f"WHEN {conds} THEN '{lang}'")
    case_sql = "CASE " + " ".join(cases) + f" ELSE '{langs[-1]}' END"
    return f"""
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
    s AS (SELECT doc_id, lang,
           {score_cols}
    FROM t)
    SELECT doc_id, lang, score_en, score_de, score_fr, score_es,
           {case_sql} AS lang_pred
    FROM s
    """


@register("q31_lang_id", _lang_sql())
def q31_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-heuristic language ID (the fasttext-free lane):
    per-language stopword/marker scores from one tokenization, argmax
    with deterministic ties (`operators/textops.lang_scores`). Scale:
    map-side scoring over a literal marker table; no shuffle, no
    dictionary join."""
    d = load_table(spark, sf_dir, "documents")
    return lang_scores(d).select(
        "doc_id", "lang", "score_en", "score_de", "score_fr", "score_es", "lang_pred"
    )


# --- exact dedup -------------------------------------------------------------


@register(
    "q32_exact_dedup",
    r"""
    WITH fp AS (
      SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
      FROM documents
    )
    SELECT fingerprint, MIN(doc_id) AS canonical_id, COUNT(*) AS n_docs
    FROM fp GROUP BY fingerprint
    """,
)
def q32_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate grouping (the dedup lane's baseline):
    md5 fingerprint of normalized text → (canonical id, multiplicity)
    per group (`operators/dedup.exact_dedup`). Scale: ONE shuffle on
    the 32-byte fingerprint with map-side combine; document bytes
    never move — only fingerprints do."""
    d = load_table(spark, sf_dir, "documents")
    return exact_dedup(d)


# --- n-gram jaccard near-dup -------------------------------------------------


NGRAM_SH_SQL = """
  toks AS (SELECT doc_id, source, string_split(lower(trim(text)), ' ') AS t FROM documents),
  sh AS (
    SELECT doc_id, source,
           unnest(CASE WHEN len(t) >= 3
                  THEN list_distinct(list_transform(range(1, len(t) - 1),
                       i -> concat_ws(' ', t[i], t[i+1], t[i+2])))
                  ELSE [] END) AS shingle
    FROM toks
  )
"""


@register(
    "q33_ngram_jaccard",
    f"""
    WITH {NGRAM_SH_SQL},
    hashed AS (SELECT doc_id, source, {HEX_HASH_SQL.format(col='shingle')} AS sh FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM hashed GROUP BY doc_id),
    freq AS (SELECT sh, source, COUNT(*) AS f FROM hashed GROUP BY sh, source),
    kept AS (
      SELECT h.doc_id, h.source, h.sh
      FROM hashed h JOIN freq g ON h.sh = g.sh AND h.source = g.source
      WHERE g.f <= 256
    ),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM kept a JOIN kept b
        ON a.sh = b.sh AND a.source = b.source AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, n_common,
           n_common / (sa.n_sh + sb.n_sh - n_common) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    """,
)
def q33_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stop-shingles are capped (a shingle in f docs emits O(f^2)
    pairs — at corpus scale an ultra-common shingle carries no
    near-dup signal and would dominate the pair shuffle); the oracle
    applies the same frequency cutoff."""
    d = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, block_col="source", max_docs_per_shingle=256)


# --- minhash signatures ------------------------------------------------------


def _minhash_sql(k: int = 8, seed: int = 42) -> str:
    h = HEX_HASH_SQL.format(col="shingle")
    mins = ",\n           ".join(
        f"MIN((sh_mod * {a} + {b}) % {MODULUS}) AS mh_{i}"
        for i, (a, b) in enumerate(minhash_params(k, seed))
    )
    return f"""
    WITH {NGRAM_SH_SQL},
    hashed AS (SELECT doc_id, {h} % {MODULUS} AS sh_mod FROM sh)
    SELECT doc_id,
           {mins}
    FROM hashed GROUP BY doc_id
    """


@register("q34_minhash_signatures", _minhash_sql())
def q34_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (k=8) over word-shingle sets —
    stage 1 of the LSH near-dup pipeline (`operators/dedup.
    minhash_signatures`): per-doc min over affine-permuted shingle
    hashes. Scale: explode-to-shingles then min-aggregate back to one
    row per doc (map-side combinable); md5-derived hashes keep the
    signature engine-portable (oracle-checkable)."""
    d = load_table(spark, sf_dir, "documents")
    sh = shingle_table(d)
    return minhash_signatures(sh, k=8, seed=42)


# --- simhash -----------------------------------------------------------------


def _simhash_sql(bits: int = 16) -> str:
    h = HEX_HASH_SQL.format(col="tok")
    votes = ",\n           ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{b}"
        for b in range(bits)
    )
    sig = " + ".join(
        f"(CASE WHEN v_{b} > 0 THEN 1 ELSE 0 END) * {2**b}" for b in range(bits)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS tok FROM documents
    ),
    th AS (SELECT doc_id, {h} AS h FROM toks),
    v AS (SELECT doc_id,
           {votes}
    FROM th GROUP BY doc_id)
    SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM v
    """


@register("q35_simhash", _simhash_sql())
def q35_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document (`operators/dedup.simhash`):
    sign-aggregated per-bit votes over token hashes. Scale: computed
    entirely inside one aggregation over exploded tokens (no UDF, no
    per-doc loop); banded hamming blocking for pair search lives in
    q35's consumer (dedup.simhash_near_pairs, q92-style)."""
    d = load_table(spark, sf_dir, "documents")
    return simhash(d, bits=16)


# --- brute-force cosine top-k ------------------------------------------------


COSINE_REDUCE = (
    "list_reduce(list_transform(range(1, len({a}) + 1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
)


_SQDIST_REDUCE = (
    "list_reduce(list_transform(range(1, len({a}) + 1), "
    "i -> (CAST({a}[i] AS DOUBLE) - {b}[i]) * (CAST({a}[i] AS DOUBLE) - {b}[i])), "
    "(x, y) -> x + y)"
)


def _kmeans_cte_sql(
    k: int, iterations: int, dim: int, rel: str = "embeddings"
) -> tuple[str, str]:
    """(CTE chain, final-centroid CTE name) for the deterministic
    Lloyd's kmeans — shared by the q132 assignment oracle, the q98
    IVF oracle (the coarse quantizer is the same computation), and
    the q252 index-maintenance oracle (`rel` names the TRAINING
    relation — q252 trains on the history slice only)."""
    dist = _SQDIST_REDUCE.format(a="e.embedding", b="c.cv")
    sql = f"""c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS c,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      FROM (SELECT * FROM {rel} ORDER BY vec_id LIMIT {k})
    )"""
    prev = "c0"
    for it in range(iterations):
        sql += f""",
    a{it} AS (
      SELECT e.vec_id, e.embedding, c.c,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {dist} ASC, c.c ASC) AS rn
      FROM {rel} e CROSS JOIN {prev} c
    ),
    m{it} AS (
      SELECT a.c, r.i AS dim,
             CAST(SUM(CAST(CAST(a.embedding[r.i] AS DOUBLE)
                           AS DECIMAL(38,15))) AS DOUBLE)
               / COUNT(*) AS m
      FROM (SELECT * FROM a{it} WHERE rn = 1) a
      CROSS JOIN range(1, {dim + 1}) r(i)
      GROUP BY a.c, r.i
    ),
    c{it + 1} AS (SELECT c, list(m ORDER BY dim) AS cv FROM m{it} GROUP BY c)"""
        prev = f"c{it + 1}"
    return sql, prev



def _rh_sig_sql(vec: str, dim: int, n_planes: int, seed: int) -> str:
    """Random-hyperplane signature as DuckDB SQL, the planes baked in
    as full-precision double literals (repr round-trips exactly, and
    both engines left-fold the dot product in index order, so the
    sign — hence the bucket — matches Spark bit-for-bit)."""
    from patientdataintegration_spark.operators.similarity import hyperplanes

    terms = []
    for i, p in enumerate(hyperplanes(dim, n_planes, seed)):
        lit = "([" + ", ".join(repr(x) for x in p) + "])"
        dotp = COSINE_REDUCE.format(a=vec, b=lit)
        terms.append(f"(CASE WHEN {dotp} > 0 THEN {2**i} ELSE 0 END)")
    return " + ".join(terms)


_Q36_PLANES = 4


@register(
    "q36_cosine_topk",
    f"""
    WITH v AS (
      SELECT vec_id, embedding,
             {_rh_sig_sql('embedding', 64, _Q36_PLANES, 42)} AS sig
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qv, sig FROM v WHERE vec_id % 100 = 0),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv, sig FROM v),
    pairs AS (
      SELECT query_id, neighbor_id,
             round(
               {COSINE_REDUCE.format(a='qv', b='cv')}
               / (sqrt({COSINE_REDUCE.format(a='qv', b='qv')})
                  * sqrt({COSINE_REDUCE.format(a='cv', b='cv')})), 4) + 0.0 AS cos_sim
      FROM c JOIN q USING (sig) WHERE query_id <> neighbor_id
    ),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk
          FROM pairs)
    SELECT query_id, neighbor_id, cos_sim, rnk FROM r WHERE rnk <= 3
    """,
)
def q36_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k cosine neighbors, LSH-bucketed: candidates must share the
    random-hyperplane signature with the query, then the survivors get
    an exact cosine re-rank. The plan is an equi-join on the signature
    key — NEVER the |Q|x|C| crossJoin (`cosine_topk` remains available
    as the exact re-rank primitive for an already-bucketed candidate
    set). Oracle mirrors the bucketing with plane literals baked into
    the SQL, so the approximate result is still bit-exact-checkable."""
    from patientdataintegration_spark.operators.similarity import lsh_cosine_topk

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 0)
    return lsh_cosine_topk(q, e, dim=64, k=3, n_planes=_Q36_PLANES, seed=42).withColumnRenamed(
        "rank", "rnk"
    )


# --- event-time tumbling window ---------------------------------------------


@register(
    "q37_events_tumbling",
    """
    SELECT CAST(FLOOR(epoch(ts) / 300) AS BIGINT) * 300 AS bucket,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY bucket, event_type
    """,
)
def q37_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch tumbling-window aggregation (the streaming
    lane's batch twin — q90 runs the SAME `streaming/events.
    tumbling_counts` transformation through the streaming engine):
    5-minute buckets × event type with count + decimal-exact sum.
    Scale: epoch-floor bucketing is map-side; one shuffle on
    (bucket, type) with partial aggregation."""
    e = load_table(spark, sf_dir, "events")
    bucket = (F.floor(F.unix_timestamp("ts") / F.lit(300)) * 300).alias("bucket")
    return e.groupBy(bucket, F.col("event_type")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )


# --- quality-gate filter (curation pipeline) --------------------------------


@register(
    "q38_quality_filter",
    """
    WITH t AS (SELECT doc_id, lang, text, string_split(text, ' ') AS toks FROM documents),
    q AS (
      SELECT doc_id, lang,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             (length(text) - (len(toks) - 1)) / len(toks) AS avg_token_len,
             len(list_filter(toks, x -> x IN ('the','a','and','of','to','in'))) / len(toks) AS stopword_ratio
      FROM t
    )
    SELECT lang, COUNT(*) AS n_docs_kept
    FROM q
    WHERE n_tokens >= 20 AND stopword_ratio <= 0.5
      AND avg_token_len >= 3 AND avg_token_len <= 8
    GROUP BY lang
    """,
)
def q38_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate filter + survivor census (the
    LLM-pipeline's document triage): thresholds over q30's features,
    kept-docs per language. Scale: the filter is map-side on the
    single-split features, so the only shuffle is the tiny per-lang
    census; the full feature relation never materializes."""
    d = load_table(spark, sf_dir, "documents")
    q = quality_features(d)
    return (
        q.filter(
            (F.col("n_tokens") >= 20)
            & (F.col("stopword_ratio") <= 0.5)
            & (F.col("avg_token_len") >= 3)
            & (F.col("avg_token_len") <= 8)
        )
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs_kept"))
    )


# --- structured-streaming event-time tumbling window -------------------------


@register(
    "q90_stream_tumbling",
    """
    SELECT CAST(FLOOR(epoch(ts) / 300) AS BIGINT) * 300 AS bucket,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY bucket, event_type
    """,
)
def q90_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real streaming run (file source → watermark+window agg →
    availableNow → memory sink). UPGRADED r8 from rows-only to a
    FULL hash oracle (the q223 pattern): the sink runs in COMPLETE
    output mode, so after availableNow drains the one-file backlog
    the memory table holds the final state of EVERY window —
    no watermark-eviction subset to reason about — and that final
    state is exactly the batch aggregate, deterministically (counts
    and decimal-exact sums are merge-order-independent). The oracle
    is q37's batch SQL verbatim; the driver row therefore
    hash-checks the streaming ENGINE path (state store, incremental
    planner, watermark bookkeeping) against DuckDB."""
    from patientdataintegration_spark.streaming.events import run_tumbling_counts_stream

    return run_tumbling_counts_stream(spark, sf_dir)


_Q91_SQL = """
    WITH t AS (
      SELECT concat('/synthetic/', p_name, '/t_', p_partkey % 16, '_',
                    p_partkey % 23, '.jpg') AS path,
             p_name AS s
      FROM part
    )
    SELECT path,
           CAST(64 + CAST(('0x' || substr(md5(s), 1, 2)) AS INTEGER) % 192
                AS INTEGER) AS width,
           CAST(64 + CAST(('0x' || substr(md5(s), 3, 2)) AS INTEGER) % 192
                AS INTEGER) AS height,
           CAST(length(s) AS BIGINT) AS n_bytes,
           CAST(('0x' || substr(md5(s), 5, 2)) AS INTEGER) / 255.0
             AS mean_intensity,
           'stub' AS decode_status
    FROM t
    """


@register("q91_multimodal_features", _Q91_SQL)
def q91_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode lane: synthetic binary tiles from `part` →
    Arrow-batched mapInPandas feature extraction. The tile payloads
    are NOT images (utf-8 name bytes), so the lane exercises the
    STUB path end-to-end including its provenance marker — and since
    the stub derives its pseudo-dimensions/intensity from md5 of the
    payload, DuckDB replays the identical values from the name
    string: a FULL hash oracle over the Python decode plumbing
    (schema, batching, fallback provenance). The REAL pixel-decode
    paths are hash-checked by q206 (PNG) and q193 (dHash)."""
    from patientdataintegration_spark.operators.multimodal import (
        image_features,
        synthetic_tiles,
    )

    p = load_table(spark, sf_dir, "part")
    tiles = synthetic_tiles(p, key_col="p_partkey", name_col="p_name")
    return image_features(tiles)


def _lsh_pairs_sql(bands: int = 4, rows_per_band: int = 2, seed: int = 42) -> str:
    sig = _minhash_sql(bands * rows_per_band, seed)
    band_selects = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band, concat(mh_{i}, '_', mh_{j}) AS key FROM sig".format(
            b=b, i=b * rows_per_band, j=b * rows_per_band + 1
        )
        for b in range(bands)
    )
    return f"""
    WITH sig AS ({sig}),
    banded AS (
      {band_selects}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    """


def cached_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine-standard MinHash-LSH candidate-pair relation
    (k=8, bands=4, rows=2, seed=42) over the documents table — a pure
    function of the corpus, materialized once per documents CONTENT
    through the content-keyed cache and shared by every consumer
    (q92 outputs it; q130's PageRank and q138's recursive BFS iterate
    over it; q190 scores it). One producer run, N cheap parquet scans
    — previously q130 and q138 each kept a private copy of the same
    relation under a different cache key."""
    from patientdataintegration_spark.operators.dedup import lsh_candidate_pairs
    from patientdataintegration_spark.plans.materialize import cached_parquet

    def produce() -> DataFrame:
        d = load_table(spark, sf_dir, "documents")
        sigs = minhash_signatures(shingle_table(d), k=8, seed=42)
        return lsh_candidate_pairs(sigs, bands=4, rows_per_band=2)

    return cached_parquet(
        spark, "lsh_pairs_b4r2", [f"{sf_dir}/documents.parquet"], produce
    )


def cached_minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine-standard MinHash signature relation (k=8, seed=42)
    over the documents table — the persisted signature STORE of the
    maintenance lanes (q263/q268/q272/q273/q274 treat it as stored
    state: at scale signatures are written once at ingest, so lanes
    that only MAINTAIN downstream state shouldn't re-shingle the
    corpus per invocation). Content-keyed like `cached_lsh_pairs`."""
    from patientdataintegration_spark.plans.materialize import cached_parquet

    def produce() -> DataFrame:
        d = load_table(spark, sf_dir, "documents")
        return minhash_signatures(shingle_table(d), k=8, seed=42)

    return cached_parquet(
        spark, "minhash_sigs_k8", [f"{sf_dir}/documents.parquet"], produce
    )


def cached_star_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The star labeling of `cached_lsh_pairs` — the persisted LABEL
    table the decremental lanes (q272/q274) maintain. Building it is
    q115's relation; lanes whose verb is RETRACTION read it as stored
    state, content-keyed on the corpus, and it is labeled once through
    the bounded labeler (`dedup.star_labels`)."""
    from patientdataintegration_spark.operators.dedup import star_labels
    from patientdataintegration_spark.plans.materialize import cached_parquet

    return cached_parquet(
        spark,
        "star_labels_b4r2",
        [f"{sf_dir}/documents.parquet"],
        lambda: star_labels(cached_lsh_pairs(spark, sf_dir)),
    )


def cached_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted (doc_id, fingerprint) mapping — what
    `incremental_exact_dedup` keys its anti-join on and what
    `retract_exact_dedup`'s dirty-group repair reads. A pure
    per-document function of the corpus, so maintenance lanes (q274,
    q278) read it as stored state through the content-keyed cache
    instead of re-fingerprinting the corpus per invocation (r12
    ADVICE)."""
    from patientdataintegration_spark.operators.textops import fingerprint
    from patientdataintegration_spark.plans.materialize import cached_parquet

    return cached_parquet(
        spark,
        "doc_fingerprints",
        [f"{sf_dir}/documents.parquet"],
        lambda: fingerprint(load_table(spark, sf_dir, "documents")).select(
            "doc_id", "fingerprint"
        ),
    )


def cached_exact_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted exact-dedup store (fingerprint, canonical_id,
    n_docs) — q32 builds it, q117/q240 insert into it, and the
    decremental lanes (q274, q278) MAINTAIN it, so they read it as
    stored state content-keyed on the corpus (r12 ADVICE: those
    lanes measure the retraction verb, not the store rebuild)."""
    from patientdataintegration_spark.operators.dedup import exact_dedup
    from patientdataintegration_spark.plans.materialize import cached_parquet

    return cached_parquet(
        spark,
        "exact_store",
        [f"{sf_dir}/documents.parquet"],
        lambda: exact_dedup(load_table(spark, sf_dir, "documents")),
    )


def cached_ivf_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(assigned, centroids) of the exact-quantizer IVF index over
    the embeddings table (n_cells=16, Lloyd iterations=2 — the q98
    configuration) — the persisted ANN store the maintenance lanes
    operate on (q252 appends against frozen centroids; q276/q278
    retract from it), content-keyed on the corpus: building the
    index is q98's measured job, so erasure lanes read it as stored
    state instead of re-training the quantizer per invocation."""
    from patientdataintegration_spark.operators.similarity import ivf_index_exact
    from patientdataintegration_spark.plans.materialize import cached_parquet

    emb_path = f"{sf_dir}/embeddings.parquet"

    def build(part: int) -> DataFrame:
        return ivf_index_exact(
            load_table(spark, sf_dir, "embeddings"), n_cells=16, iterations=2
        )[part]

    assigned = cached_parquet(
        spark, "ivf_assigned_c16", [emb_path], lambda: build(0)
    )
    centroids = cached_parquet(
        spark, "ivf_centroids_c16", [emb_path], lambda: build(1)
    )
    return assigned, centroids


def cached_stream_seed_ivf(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The STREAMED IVF index's seed (q284): (assigned, centroids)
    over the first third of the corpus (vec_id % 3 == 0), n_cells=16,
    Lloyd iterations=2 — the quantizer trains ONCE on day-0 data and
    freezes (the q252 production pattern); every later batch assigns
    against it. q284 seeds its row-grain generation store from this
    and measures the stream, not the quantizer training."""
    from patientdataintegration_spark.operators.similarity import ivf_index_exact
    from patientdataintegration_spark.plans.materialize import cached_parquet

    emb_path = f"{sf_dir}/embeddings.parquet"

    def build(part: int) -> DataFrame:
        seed = load_table(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") % 3 == 0
        )
        return ivf_index_exact(seed, n_cells=16, iterations=2)[part]

    assigned = cached_parquet(
        spark, "ivf_seed0_assigned_c16", [emb_path], lambda: build(0)
    )
    centroids = cached_parquet(
        spark, "ivf_seed0_centroids_c16", [emb_path], lambda: build(1)
    )
    return assigned, centroids


def cached_inverted_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The persisted (index, overflow) factorization of the capped
    inverted index over the documents table (min_df=2, cap=16 — the
    q110 configuration): q110 builds and measures the index; the
    erasure lanes (q277/q278) MAINTAIN it, so they read both
    relations as stored state content-keyed on the corpus. The
    overflow relation is what makes the cap repairable under deletes
    (`operators/indexing.retract_inverted_index`)."""
    from patientdataintegration_spark.operators.indexing import (
        inverted_index_with_overflow,
    )
    from patientdataintegration_spark.plans.materialize import cached_parquet

    docs_path = f"{sf_dir}/documents.parquet"

    def build(part: int) -> DataFrame:
        return inverted_index_with_overflow(
            load_table(spark, sf_dir, "documents"), min_df=2, max_postings=16
        )[part]

    index = cached_parquet(
        spark, "inv_index_df2_cap16", [docs_path], lambda: build(0)
    )
    overflow = cached_parquet(
        spark, "inv_overflow_df2_cap16", [docs_path], lambda: build(1)
    )
    return index, overflow


def cached_seed_inverted_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The INSERT-maintained store's seed: the (index, overflow)
    factorization over the seed corpus (doc_id % 3 != 1) with
    **min_df=1**, cap=16 — `extend_inverted_index`'s exactness
    contract requires every term stored (min_df is a serve-time
    doc_freq filter on a maintained store; a build-time drop is
    unrecoverable under inserts). q281 reads this as persisted state
    and measures the insert verb, not the seed build."""
    from patientdataintegration_spark.operators.indexing import (
        inverted_index_with_overflow,
    )
    from patientdataintegration_spark.plans.materialize import cached_parquet

    docs_path = f"{sf_dir}/documents.parquet"

    def build(part: int) -> DataFrame:
        seed = load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 3 != 1
        )
        return inverted_index_with_overflow(seed, min_df=1, max_postings=16)[part]

    index = cached_parquet(
        spark, "inv_seed3_index_df1_cap16", [docs_path], lambda: build(0)
    )
    overflow = cached_parquet(
        spark, "inv_seed3_overflow_df1_cap16", [docs_path], lambda: build(1)
    )
    return index, overflow


def cached_stream_seed_inverted_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The STREAMED index's seed (q283): the (index, overflow)
    factorization over the first third of the corpus (doc_id % 3 ==
    0), min_df=1/cap=16 — the insert-exactness contract, as in
    `cached_seed_inverted_index`. q283 seeds its delta-generation
    store from this and measures the stream, not the seed build."""
    from patientdataintegration_spark.operators.indexing import (
        inverted_index_with_overflow,
    )
    from patientdataintegration_spark.plans.materialize import cached_parquet

    docs_path = f"{sf_dir}/documents.parquet"

    def build(part: int) -> DataFrame:
        seed = load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 3 == 0
        )
        return inverted_index_with_overflow(seed, min_df=1, max_postings=16)[part]

    index = cached_parquet(
        spark, "inv_seed0_index_df1_cap16", [docs_path], lambda: build(0)
    )
    overflow = cached_parquet(
        spark, "inv_seed0_overflow_df1_cap16", [docs_path], lambda: build(1)
    )
    return index, overflow


def cached_stream_seed_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMED scoring satellite's seed (q285/q289):
    `doc_term_stats` rows — (term, doc, tf, len_d) — over the first
    third of the corpus (doc_id % 3 == 0), matching
    `cached_stream_seed_inverted_index`'s slice so one store seeds
    all its relations consistently. The serving lanes read this as
    persisted state and measure the stream + the from-store serve,
    not the seed build."""
    from patientdataintegration_spark.operators.indexing import doc_term_stats
    from patientdataintegration_spark.plans.materialize import cached_parquet

    docs_path = f"{sf_dir}/documents.parquet"

    def build() -> DataFrame:
        seed = load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 3 == 0
        )
        return doc_term_stats(seed)

    return cached_parquet(spark, "scoring_seed0_tf", [docs_path], build)


def cached_stream_seed_positions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The STREAMED positional satellite's seed (q286):
    `positional_postings` rows over the first third of the corpus
    (doc_id % 3 == 0) — same slice discipline as the other stream
    seeds."""
    from patientdataintegration_spark.operators.indexing import (
        positional_postings,
    )
    from patientdataintegration_spark.plans.materialize import cached_parquet

    docs_path = f"{sf_dir}/documents.parquet"

    def build() -> DataFrame:
        seed = load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 3 == 0
        )
        return positional_postings(seed)

    return cached_parquet(spark, "positions_seed0", [docs_path], build)


@register("q92_minhash_lsh_pairs", _lsh_pairs_sql())
def q92_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate near-dup pairs (bands=4, rows=2).
    Oracle-checkable end-to-end because every stage (shingle hash,
    permutations, band keys) is md5-derived integer arithmetic."""
    return cached_lsh_pairs(spark, sf_dir)


_Q93_PLANES = 6


def _q93_sql() -> str:
    return f"""
    WITH v AS (
      SELECT vec_id, embedding,
             {_rh_sig_sql('embedding', 64, _Q93_PLANES, 42)} AS sig
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qv, sig FROM v WHERE vec_id % 100 = 0),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv, sig FROM v),
    pairs AS (
      SELECT query_id, neighbor_id,
             round(
               {COSINE_REDUCE.format(a='qv', b='cv')}
               / (sqrt({COSINE_REDUCE.format(a='qv', b='qv')})
                  * sqrt({COSINE_REDUCE.format(a='cv', b='cv')})), 4) + 0.0 AS cos_sim
      FROM c JOIN q USING (sig) WHERE query_id <> neighbor_id
    ),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
          FROM pairs)
    SELECT query_id, neighbor_id, cos_sim, rank FROM r WHERE rank <= 3
    """


@register("q93_lsh_cosine_topk", _q93_sql())
def q93_lsh_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane-bucketed approximate cosine top-k at a finer
    bucketing than q36 (6 planes → 64 buckets vs 16): the higher-
    precision/lower-recall end of the same scale path. Oracle bakes
    the same seed-42 planes into the SQL, so even the approximate
    candidate set is bit-exact-checkable."""
    from patientdataintegration_spark.operators.similarity import lsh_cosine_topk

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 0)
    return lsh_cosine_topk(q, e, dim=64, k=3, n_planes=_Q93_PLANES, seed=42)


# --- sliding event-time windows ---------------------------------------------


@register(
    "q39_events_sliding",
    """
    WITH b AS (
      SELECT unnest([CAST(FLOOR(epoch(ts) / 300) AS BIGINT) * 300,
                     CAST(FLOOR(epoch(ts) / 300) AS BIGINT) * 300 - 300]) AS bucket,
             event_type, value
      FROM events
    )
    SELECT bucket, event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM b GROUP BY bucket, event_type
    """,
)
def q39_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (10 min wide, 5 min slide) via the native
    `window()` generator — each event lands in exactly two windows.
    Same construct Structured Streaming uses, so this plan is
    batch/stream portable."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "600 seconds", "300 seconds").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_timestamp("w.start").alias("bucket"), "event_type", "n", "sum_value"
        )
    )


# --- embedding-cosine near-duplicate pairs ----------------------------------


_Q40_PLANES = 5  # 2^5 = 32 LSH buckets


def _q40_sql() -> str:
    return f"""
    WITH e AS (
      SELECT {_rh_sig_sql('embedding', 64, _Q40_PLANES, 42)} AS block,
             vec_id, embedding
      FROM embeddings
    ),
    pairs AS (
      SELECT a.block, a.vec_id AS vec_a, b.vec_id AS vec_b,
             round(
               {COSINE_REDUCE.format(a='a.embedding', b='b.embedding')}
               / (sqrt({COSINE_REDUCE.format(a='a.embedding', b='a.embedding')})
                  * sqrt({COSINE_REDUCE.format(a='b.embedding', b='b.embedding')})), 4) + 0.0 AS cos_sim
      FROM e a JOIN e b ON a.block = b.block AND a.vec_id < b.vec_id
    )
    SELECT block, vec_a, vec_b, cos_sim FROM pairs WHERE cos_sim >= 0.3
    """


@register("q40_embedding_neardup", _q40_sql())
def q40_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup candidates with the SCALE-CORRECT
    blocking key: a random-hyperplane LSH bucket (32 buckets), so the
    quadratic compare is per-bucket and the bucket population — not a
    data column's skew — bounds the join. (Earlier registration
    blocked on `label`, which at corpus scale is exactly the skewed
    key you must not block on.) Oracle mirrors the bucketing with
    plane literals baked into the SQL."""
    from patientdataintegration_spark.operators.similarity import (
        hyperplanes,
        neardup_pairs,
        rh_signature,
    )

    e = load_table(spark, sf_dir, "embeddings").withColumn(
        "lsh_bucket",
        rh_signature(F.col("embedding"), hyperplanes(64, _Q40_PLANES, 42)),
    )
    return neardup_pairs(e, block_col="lsh_bucket", threshold=0.3)


# --- winnowing fingerprints --------------------------------------------------


@register(
    "q41_winnowing_fp",
    """
    WITH toks AS (
      SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents
    ),
    g AS (
      SELECT doc_id,
             list_transform(range(1, len(t) - 1),
               i -> CAST(('0x' || substr(md5(concat_ws(' ', t[i], t[i+1], t[i+2])), 1, 14)) AS BIGINT)
             ) AS hs
      FROM toks WHERE len(t) >= 3
    ),
    wmin AS (
      SELECT doc_id,
             CASE WHEN len(hs) >= 4
                  THEN list_distinct(list_transform(range(1, len(hs) - 2),
                       s -> list_aggregate(hs[s:s+3], 'min')))
                  ELSE [list_aggregate(hs, 'min')] END AS fps
      FROM g
    )
    SELECT doc_id, unnest(fps) AS fp FROM wmin
    """,
)
def q41_winnowing_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (k=3-gram hashes, window w=4): rolling
    min over trigram-hash windows, distinct mins per doc
    (`operators/textops.winnow_fingerprints`). Scale: higher-order
    array functions keep the rolling min inside codegen per row — no
    explode of the window space, no UDF; output is the small
    fingerprint set per doc."""
    from patientdataintegration_spark.operators.textops import winnow_fingerprints

    d = load_table(spark, sf_dir, "documents")
    return winnow_fingerprints(d, k=3, w=4)


# --- random forest (M1; full hash oracle since r16) -------------------------


def _q94_sql() -> str:
    from patientdataintegration_spark.operators.forest import (
        deterministic_forest_oracle_sql,
    )

    return deterministic_forest_oracle_sql()


@register("q94_random_forest", _q94_sql())
def q94_random_forest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RF train+score on customer tabular features — the reference's
    hyperparameters (numTrees=121, maxDepth=5, ipynb cell 10:37-41)
    on the totally-random-split forest variant (Extra-Trees K=1),
    whose splits derive from the engine-portable `pseudo_random`
    hash and whose leaf values are integer-exact bagged label means
    (`operators/forest.py`). That makes the ENTIRE train+score
    computation hash-verifiable against DuckDB — closing the r15
    verdict's last no-oracle registry row. The MLlib CART spelling
    stays in `operators/mlbridge.py` (artifact save/load, q224's
    quality-verdict oracle, pytest accuracy bounds).

    Scale: scoring fans each row across the 121 trees via a
    broadcast crossJoin (map-side), routes through five broadcast
    hash-join levels against the 3,751-row split table (the model
    structure as a relation — whole-stage codegen, no per-row hash
    arithmetic), and joins the ≤3,872-row leaf table back by
    broadcast; the partial hash-aggregate collapses each row's 121
    copies BEFORE the exchange, so shuffle volume stays ≈ |rows|."""
    from patientdataintegration_spark.operators.forest import (
        deterministic_forest_scores,
    )

    return deterministic_forest_scores(spark, sf_dir)


# --- approximate distinct sketch ---------------------------------------------


@register(
    "q95_approx_distinct",
    """
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_5pct
    FROM events GROUP BY event_type
    """,
)
def q95_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) audited against the
    exact count — the 100 TB path for distinct-user metrics.
    UPGRADED r6 from rows-only to a PARTIAL hash oracle: the raw HLL
    estimate is engine-internal (DuckDB cannot replay Spark's
    sketch), so the output carries the exact count (hash-checked)
    plus the AUDIT VERDICT |approx - exact| <= 5% as a boolean the
    oracle pins to TRUE — if Spark's sketch ever drifts past the
    bound (rsd is set to 2%), the hash gate goes red instead of a
    pytest-only assertion. The estimate itself stays visible to
    pytest (test_ml_sketches), which asserts the tighter live
    bound."""
    e = load_table(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        F.count_distinct("user_id").cast("bigint").alias("exact_users"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("within_5pct"),
    )


# --- stateful streaming sessionization ---------------------------------------


@register(
    "q96_stream_sessionize",
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
    SELECT g.user_id, g.session_start_us, g.session_end_us, g.n_events
    FROM g JOIN lastf USING (user_id), wm
    WHERE g.session_end_us < lastf.last_end
       OR (CAST(FLOOR((g.session_end_us + 43200000000) / 1000) AS BIGINT) + 1)
          < wm.wm_ms
    """,
)
def q96_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions computed incrementally with
    applyInPandasWithState (event-time timeouts flush open sessions).
    UPGRADED r8 from rows-only to a FULL hash oracle — the q223
    frontier-replay pattern applied to the CUSTOM stateful operator:
    with the one-file backlog everything arrives in micro-batch 1,
    so every gap-CLOSED session emits unconditionally, and each
    user's trailing open session emits in the availableNow
    finalization batch iff its event-time timeout fired — the
    sessionizer sets the timeout to floor((end_us + gap_us)/1000)+1
    ms (sessions.py:95) and Spark fires timeouts when the watermark
    advances strictly beyond that timestamp, with the final
    watermark at floor(max_us/1000) ms (delay 0s). The oracle
    replays the batch gap-split AND that exact ms-arithmetic
    eviction rule, so the hash pins the emission contract itself —
    which sessions a restart-safe consumer has actually seen — not
    just their values."""
    from patientdataintegration_spark.streaming.sessions import sessionize_stream

    return sessionize_stream(spark, sf_dir, gap_seconds=43200, watermark="0 seconds")


_Q97_SQL = """
    WITH t AS (
      SELECT concat('/synthetic/', p_name, '/t_', p_partkey % 16, '_',
                    p_partkey % 23, '.jpg') AS path,
             p_name AS s
      FROM part
    ),
    sc AS (
      SELECT path,
             CASE WHEN length(s) = 0 THEN 0.0
                  ELSE list_sum(list_transform(
                         range(1, LEAST(length(s), 1024) + 1),
                         i -> CAST(((ord(substr(s, CAST(i AS INTEGER), 1))
                                     * 2654435761) % 1000) AS DOUBLE)
                              / 1000.0 - 0.5))
                       / LEAST(length(s), 1024)
             END AS score
      FROM t
    )
    SELECT path, score FROM sc
    """


@register("q97_batch_inference", _Q97_SQL)
def q97_batch_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 analogue: load-once model scoring over binary tiles via
    mapInPandas (stub model; the Spark-side amortization shape is
    what's under test). UPGRADED to a full hash oracle (the q205/q206
    closed-form pattern): the tile payload is the utf-8 bytes of
    p_name and the stub model is a fixed per-byte weight fold, so
    DuckDB replays the identical left-to-right float accumulation
    from the characters — the Python lane's scores are value-hashed,
    raw doubles, no rounding."""
    from patientdataintegration_spark.operators.multimodal import (
        batch_inference,
        synthetic_tiles,
    )

    p = load_table(spark, sf_dir, "part")
    tiles = synthetic_tiles(p, key_col="p_partkey", name_col="p_name")
    return batch_inference(tiles)


def _q98_sql(k: int = 3, n_cells: int = 16, n_probe: int = 4,
             iterations: int = 2, dim: int = 64) -> str:
    ctes, cent = _kmeans_cte_sql(n_cells, iterations, dim)
    adist = _SQDIST_REDUCE.format(a="e.embedding", b="c.cv")
    qdist = _SQDIST_REDUCE.format(a="q.qv", b="c.cv")
    dotqc = COSINE_REDUCE.format(a="p.qv", b="a.c_vec")
    dotqq = COSINE_REDUCE.format(a="p.qv", b="p.qv")
    dotcc = COSINE_REDUCE.format(a="a.c_vec", b="a.c_vec")
    return f"""
    WITH {ctes},
    asg AS (
      SELECT e.vec_id AS neighbor_id,
             list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS c_vec,
             c.c AS cell,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {adist} ASC, c.c ASC) AS rn
      FROM embeddings e CROSS JOIN {cent} c
    ),
    a AS (SELECT neighbor_id, c_vec, cell FROM asg WHERE rn = 1),
    q AS (
      SELECT vec_id AS query_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id % 100 = 0
    ),
    qp AS (
      SELECT q.query_id, q.qv, c.c AS cell,
             row_number() OVER (PARTITION BY q.query_id
                                ORDER BY {qdist} ASC, c.c ASC) AS pr
      FROM q CROSS JOIN {cent} c
    ),
    p AS (SELECT query_id, qv, cell FROM qp WHERE pr <= {n_probe}),
    pairs AS (
      SELECT p.query_id, a.neighbor_id,
             round({dotqc} / (sqrt({dotqq}) * sqrt({dotcc})), 4) + 0.0 AS cos_sim
      FROM a JOIN p USING (cell)
      WHERE p.query_id <> a.neighbor_id
    ),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk
      FROM pairs
    )
    SELECT query_id, neighbor_id, cos_sim, rnk FROM r WHERE rnk <= {k}
    """


@register("q98_ivf_cosine_topk", _q98_sql())
def q98_ivf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS-style IVF ANN: kmeans coarse quantizer + n_probe cells
    + exact rerank (the sibling scale path to q93's hyperplane LSH).
    ORACLE-CHECKED since r4: the quantizer is the DETERMINISTIC
    Lloyd's kmeans (`clustering.kmeans_centroids`, decimal-exact
    means), so cells, probe sets, and the reranked top-k are
    bit-reproducible and the DuckDB twin unrolls the same
    centroids → assign → probe → rerank pipeline (pyspark.ml KMeans
    remains available via `quantizer='ml'` for k-means|| speed when
    cross-engine reproducibility isn't required).

    Recall/cost curve (r6, `tools/ivf_recall_sweep.py` at sf0.1,
    recall@3 vs the q202 exhaustive baseline, measured by the q203
    audit machinery):

        n_cells  n_probe  ~scan fraction  recall@3
           16       2         0.125         0.42
           16       4         0.25          0.60   <- registered default
           16       6         0.375         0.73
           16       8         0.5           0.80
           64       4         0.06          0.30
           64       8         0.125         0.35
           64      16         0.25          0.52

    Interpretation: the synthetic embeddings are ISOTROPIC (i.i.d.
    uniform dims), the worst case for a coarse quantizer — recall
    tracks the scanned fraction with only a small bonus from the
    query's own cell, and no setting reaches 0.9 short of scanning
    most of the corpus (more cells is strictly worse: same scan
    fraction split across less coherent regions). The (16, 4)
    default is kept as a cost-representative setting, NOT a recall
    promise; on a real embedding corpus (which clusters — that is
    why IVF exists) the same index amortizes far better, and q203 is
    exactly the per-corpus audit to run before trusting any chosen
    (n_cells, n_probe) at 100 TB.

    MEASURED on clustered geometry (r8, `tools/ivf_recall_sweep.py
    ... clustered` — a deterministic mixture-of-32 corpus derived
    from the same table): recall@3 = 1.0 at EVERY swept setting,
    including 64 cells / 4 probes at a 0.062 scan fraction — a 16x
    cheaper scan than the isotropic corpus needs for 0.80. The pair
    of sweeps (full tables in PERF_NOTES.md) is the evidence that
    IVF's cost/recall trade is a property of corpus geometry, not of
    this implementation."""
    from patientdataintegration_spark.operators.similarity import ivf_cosine_topk

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 0)
    return ivf_cosine_topk(
        q, e, k=3, n_cells=16, n_probe=4, seed=42, quantizer="exact"
    ).withColumnRenamed("rank", "rnk")


@register(
    "q46_tfidf_top_terms",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 9) AS tfidf
      FROM tf JOIN dfreq df ON tf.term = df.term CROSS JOIN n
    ),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term ASC) AS rnk
      FROM scored
    )
    SELECT doc_id, term, tf, tfidf, rnk FROM r WHERE rnk <= 3
    """,
)
def q46_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 tf-idf terms per document (SURVEY §7 phase-6 text
    analysis): tf × ln(N/df) with the q82 ln-rounding discipline,
    rank window per doc with deterministic ties. Scale: two shuffles
    (term document-frequency, per-doc rank); the df relation is
    vocabulary-sized, and the rank window partitions by doc_id — no
    global sort anywhere."""
    from patientdataintegration_spark.operators.textops import tfidf_top_terms

    d = load_table(spark, sf_dir, "documents")
    return tfidf_top_terms(d, k=3)


@register(
    "q99_stream_stream_join",
    """
    SELECT e.event_id AS error_id, c.event_id AS click_id, e.user_id,
           epoch_us(e.ts) - epoch_us(c.ts) AS micros_between
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON e.user_id = c.user_id
     AND c.ts <= e.ts AND c.ts > e.ts - INTERVAL 24 HOUR
    """,
)
def q99_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join. UPGRADED r8 from
    rows-only to a FULL hash oracle: INNER stream-stream joins emit
    a match as soon as both sides are in state — emission never
    waits for watermark eviction (that is an OUTER-emission concern:
    q201/q231 stay rows-only for exactly that reason) — and with the
    one-file backlog both sides arrive in micro-batch 1 before any
    state is evicted, so the emitted set is exactly the batch
    interval join. The oracle is q47's SQL verbatim; the driver row
    hash-checks the stream-stream state-matching path against
    DuckDB."""
    from patientdataintegration_spark.streaming.sessions import interval_join_stream

    return interval_join_stream(spark, sf_dir, window_hours=24)


# --- lateral explode + re-aggregation ---------------------------------------


@register(
    "q60_explode_vocab",
    """
    SELECT lang,
           COUNT(DISTINCT tok) AS n_distinct,
           COUNT(*) AS n_total
    FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY lang
    """,
)
def q60_explode_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row generator lane: split->explode flattens each document to
    its tokens (Generate node — per-row expansion, zero shuffle),
    then a per-language vocabulary rollup. The distinct-agg runs as
    Spark's two-phase expand/partial plan, so no executor holds a
    language's full vocabulary at once — the property that matters
    when one language dominates a 100 TB corpus."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    return toks.groupBy("lang").agg(
        F.countDistinct("tok").alias("n_distinct"),
        F.count(F.lit(1)).alias("n_total"),
    )


# --- moving row-frame window over event time --------------------------------


@register(
    "q62_moving_frame",
    """
    SELECT event_id, event_type,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS mov_sum,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_frame,
           CAST(MIN(value) OVER w AS DOUBLE) AS mov_min
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def q62_moving_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving 7-row frame per event type (sum/count/min) — the
    epoch-over-epoch smoothing lane SURVEY §2.6 calls out
    (best-so-far tracking, functions_v2.py:376-380) generalized to
    bounded frames. Partitioned by event_type so reducers scale with
    type cardinality; ordering tiebreaks on event_id for a total
    order. The frame sum accumulates in decimal so incremental
    (add/evict) evaluation is exact and engine-portable."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    return e.select(
        "event_id",
        "event_type",
        F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double").alias("mov_sum"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_frame"),
        F.min("value").over(w).cast("double").alias("mov_min"),
    )


@register(
    "q88_stream_static_enrich",
    """
    SELECT c_mktsegment, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment, event_type
    """,
)
def q88_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join (events × customer dim) with a downstream
    count aggregate. UPGRADED r8 from rows-only to a FULL hash
    oracle: COMPLETE output mode means the post-availableNow memory
    table is the final aggregate over the whole feed — the
    stream-static join is stateless per micro-batch and the
    aggregate's counts/decimal sums are merge-order-independent, so
    the emitted values are a pure function of the data. The oracle
    is the plain batch join+group SQL; the driver row hash-checks
    the per-micro-batch join planning path against DuckDB."""
    from patientdataintegration_spark.streaming.events import enrich_stream_static

    return enrich_stream_static(spark, sf_dir)


@register(
    "q89_stream_dedup",
    """
    SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
    FROM events
    """,
)
def q89_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-bounded streaming dedup of a doubled feed
    (`dropDuplicatesWithinWatermark`). UPGRADED r8 from rows-only to
    a FULL hash oracle: the emitted set is deterministic because
    (a) the one-file backlog is one micro-batch, so no row is ever
    late against the batch-start watermark of 0 and every first-seen
    key emits, and (b) the two union branches carry byte-identical
    payloads, so WHICH copy survives cannot affect the output — and
    event_id is unique in the source (asserted at all SFs), making
    the surviving set exactly the events table. The oracle is
    `SELECT ... FROM events` with ts as epoch micros (the suite's
    engine-portable timestamp spelling); a dedup bug (dropped key,
    double emission, payload mixup) breaks the hash."""
    from patientdataintegration_spark.streaming.events import dedup_stream

    return dedup_stream(spark, sf_dir).select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        "value",
    )


# --- BPE-ish regex tokenizer (subword-style token counting) -----------------


@register(
    "q72_regex_tokens",
    r"""
    WITH t AS (
      SELECT doc_id, lang,
             regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]') AS toks
      FROM documents
    )
    SELECT lang,
           CAST(SUM(len(toks)) AS BIGINT) AS n_tokens,
           CAST(SUM(len(list_filter(toks, x -> regexp_matches(x, '^[0-9]+$'))))
                AS BIGINT) AS n_numeric,
           CAST(SUM(len(list_filter(toks, x -> len(x) = 1 AND
                regexp_matches(x, '^[^a-z0-9]$')))) AS BIGINT) AS n_punct,
           CAST(MAX(len(toks)) AS BIGINT) AS max_doc_tokens
    FROM t GROUP BY lang
    """,
)
def q72_regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pre-tokenization: the GPT-2-family regex split
    (letter runs | digit runs | single punctuation) as a native
    regexp_extract_all — the token-count accounting a training-data
    pipeline runs over every corpus shard. Pure per-row JVM regex,
    one aggregate shuffle on lang; the same pattern at 100 TB is a
    map-side count with a tiny rollup."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.expr(r"regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")
    t = d.select("lang", toks.alias("toks"))
    is_num = F.filter(F.col("toks"), lambda x: x.rlike("^[0-9]+$"))
    is_punct = F.filter(
        F.col("toks"), lambda x: (F.length(x) == 1) & x.rlike("^[^a-z0-9]$")
    )
    return t.groupBy("lang").agg(
        F.sum(F.size("toks")).cast("bigint").alias("n_tokens"),
        F.sum(F.size(is_num)).cast("bigint").alias("n_numeric"),
        F.sum(F.size(is_punct)).cast("bigint").alias("n_punct"),
        F.max(F.size("toks")).cast("bigint").alias("max_doc_tokens"),
    )


def _q86_sql() -> str:
    return f"""
    WITH RECURSIVE pairs AS ({_lsh_pairs_sql()}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, lab) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (SELECT node, MIN(lab) AS label FROM reach GROUP BY node),
    labeled AS (
      SELECT d.doc_id, d.n_chars, COALESCE(c.label, d.doc_id) AS cluster
      FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    ),
    r AS (
      SELECT doc_id, cluster,
             row_number() OVER (PARTITION BY cluster
                                ORDER BY n_chars DESC, doc_id ASC)
               AS rank_in_cluster
      FROM labeled
    )
    SELECT doc_id, CAST(cluster AS BIGINT) AS cluster,
           CAST(rank_in_cluster AS INTEGER) AS rank_in_cluster,
           rank_in_cluster = 1 AS is_canonical
    FROM r
    """


@register("q86_dedup_clusters", _q86_sql())
def q86_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dup pipeline tail: LSH candidate pairs → connected
    components → canonical selection. Emits one row per document
    with (cluster, rank_in_cluster, is_canonical). ORACLE-CHECKED
    since r4: min-label propagation runs to convergence, so its
    labels equal the DuckDB twin's recursive transitive closure over
    the same md5-derived LSH pairs (the q115 argument), and the
    canonical ranking is a deterministic window on (n_chars DESC,
    doc_id). pytest additionally pins the clustering against a
    driver-side union-find."""
    from patientdataintegration_spark.operators.dedup import (
        canonicalize_clusters,
        connected_components,
        lsh_candidate_pairs,
    )

    d = load_table(spark, sf_dir, "documents")
    sh = shingle_table(d)
    sigs = minhash_signatures(sh, k=8, seed=42)
    pairs = lsh_candidate_pairs(sigs, bands=4, rows_per_band=2)
    comps = connected_components(pairs)
    return canonicalize_clusters(
        d.select("doc_id", "n_chars"), comps
    ).select("doc_id", "cluster", "rank_in_cluster", "is_canonical")


@register(
    "q85_session_window",
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
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM t
    )
    SELECT user_id, MIN(us) AS session_start_us,
           MAX(us) + 43200000000 AS session_end_us,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, session_id
    """,
)
def q85_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's native session_window aggregation. Boundary semantics
    verified empirically (tests/test_temporal_events.py): an event
    exactly `gap` after the previous one MERGES into the session and
    1 µs past splits — i.e. split on strictly-greater gaps, identical
    to operators/sessionize (`> gap_us`, sessionize.py:41). That
    makes the lag+running-sum SQL spelling an exact oracle: session
    start = MIN(event time), end = MAX(event time) + gap. Unlike the
    lag spelling this operator works unchanged in Structured
    Streaming with state eviction."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "12 hours").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("w.start").alias("session_start_us"),
            F.unix_micros("w.end").alias("session_end_us"),
            "n_events",
        )
    )


# --- C5/C6/C7 model-fusion battery ------------------------------------------


_SE_W = [0.25, -0.25, 0.125, -0.125, 0.0625, -0.0625, 0.03125, -0.03125]
_CAT_W0 = [2.0 ** -(i % 6 + 2) for i in range(16)]
_CAT_W1 = [(-1.0) ** i * 2.0 ** -(i % 5 + 3) for i in range(16)]


def _dot_lit_sql(vec: str, weights: list[float]) -> str:
    lit = "([" + ", ".join(repr(w) for w in weights) + "])"
    return COSINE_REDUCE.format(a=vec, b=lit)


def _fusion_battery_sql() -> str:
    softmax_img = "(exp(i_img) / (exp(i_img) + exp(i_meta)))"
    sig = "(1.0 / (1.0 + exp(-({x}))))"
    return f"""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding[1:8], x -> CAST(x AS DOUBLE)) AS img,
             list_transform(embedding[9:16], x -> CAST(x AS DOUBLE)) AS meta,
             CAST(embedding[1] AS DOUBLE) AS p_img,
             CAST(embedding[2] AS DOUBLE) AS i_img,
             CAST(embedding[3] AS DOUBLE) AS p_meta,
             CAST(embedding[4] AS DOUBLE) AS i_meta
      FROM embeddings
    ),
    g AS (
      SELECT vec_id, p_img, i_img, p_meta, i_meta,
             list_transform(range(1, 9),
                            i -> img[i] * (1.0 / (1.0 + exp(-meta[i])))) AS gated,
             img || meta AS cat
      FROM v
    )
    SELECT vec_id,
           round({softmax_img} * {sig.format(x='p_img')}
                 + (1.0 - {softmax_img}) * {sig.format(x='p_meta')}, 6) AS fused_weighted,
           round({sig.format(x=_dot_lit_sql('gated', _SE_W))}, 6) AS se_score,
           CAST(({_dot_lit_sql('cat', _CAT_W1)} > {_dot_lit_sql('cat', _CAT_W0)}) AS INT) AS cat_pred,
           round({_dot_lit_sql('cat', _CAT_W1)} - {_dot_lit_sql('cat', _CAT_W0)}, 6) AS cat_margin
    FROM g
    """


@register("q77_fusion_battery", _fusion_battery_sql())
def q77_fusion_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5/C6/C7 in one scan — the paper's three fusion approaches as
    column expressions over the embeddings table (channels simulated
    by slicing the embedding: first 8 dims = image features, next 8 =
    metadata features, first 4 scalars = per-channel prob/importance
    logits):

    - `fused_weighted` — C5 `weighted_fusion` (softmax-importance ·
      sigmoid-prob, `mymodels.py:49-62`),
    - `se_score` — C6 `se_gate` (img ⊙ sigmoid(meta)) through a
      fixed linear head + sigmoid (`mymodels.py:89-94`),
    - `cat_pred` / `cat_margin` — C7 `cat_concat` through a fixed
      2-logit linear head (`mymodels.py:126-131`).

    Zero shuffle, whole-stage codegen end-to-end; the fixed heads are
    power-of-two literals so every product is exact and the rounded
    outputs hash-match DuckDB."""
    from patientdataintegration_spark.operators.fusion import (
        cat_concat,
        se_gate,
        weighted_fusion,
    )
    from patientdataintegration_spark.operators.similarity import dot

    e = load_table(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    v = e.select(
        "vec_id",
        F.slice(emb, 1, 8).alias("img"),
        F.slice(emb, 9, 8).alias("meta"),
        F.element_at(emb, 1).cast("double").alias("p_img"),
        F.element_at(emb, 2).cast("double").alias("i_img"),
        F.element_at(emb, 3).cast("double").alias("p_meta"),
        F.element_at(emb, 4).cast("double").alias("i_meta"),
    )
    se_w = F.array(*[F.lit(w) for w in _SE_W])
    w0 = F.array(*[F.lit(w) for w in _CAT_W0])
    w1 = F.array(*[F.lit(w) for w in _CAT_W1])
    g = v.select(
        "vec_id",
        "p_img",
        "i_img",
        "p_meta",
        "i_meta",
        se_gate(F.col("img"), F.col("meta")).alias("gated"),
        cat_concat(F.col("img"), F.col("meta")).alias("cat"),
    )
    sig = lambda x: F.lit(1.0) / (F.lit(1.0) + F.exp(-x))  # noqa: E731
    return g.select(
        "vec_id",
        F.round(
            weighted_fusion(
                F.col("p_img"), F.col("i_img"), F.col("p_meta"), F.col("i_meta")
            ),
            6,
        ).alias("fused_weighted"),
        F.round(sig(dot(F.col("gated"), se_w)), 6).alias("se_score"),
        (dot(F.col("cat"), w1) > dot(F.col("cat"), w0)).cast("int").alias("cat_pred"),
        F.round(dot(F.col("cat"), w1) - dot(F.col("cat"), w0), 6).alias("cat_margin"),
    )


# --- window-function battery (moving frame / ffill / journey) ---------------


@register(
    "q80_window_battery",
    """
    WITH mov AS (
      SELECT event_id, event_type,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS mov_sum,
             CAST(COUNT(*) OVER w AS BIGINT) AS n_frame,
             CAST(MIN(value) OVER w AS DOUBLE) AS mov_min
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    ),
    ff AS (
      SELECT event_id,
             CAST(last_value(v IGNORE NULLS) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS v_filled
      FROM (SELECT event_id, user_id, ts,
                   CASE WHEN event_type = 'click' THEN NULL ELSE value END AS v
            FROM events)
    ),
    j AS (
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
    )
    SELECT 'moving' AS battery, event_id AS k, event_type AS s,
           n_frame AS n, mov_sum AS v1, mov_min AS v2
    FROM mov
    UNION ALL
    SELECT 'ffill' AS battery, event_id AS k, CAST(NULL AS VARCHAR) AS s,
           CAST(NULL AS BIGINT) AS n, v_filled AS v1, CAST(NULL AS DOUBLE) AS v2
    FROM ff
    UNION ALL
    SELECT 'journey' AS battery, user_id AS k,
           first_type || '|' || COALESCE(third_type, '') AS s,
           n_events AS n, CAST(NULL AS DOUBLE) AS v1, CAST(NULL AS DOUBLE) AS v2
    FROM j
    """,
)
def q80_window_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded moving frame + forward-fill + first/nth journey rows in
    one conformed result (q62/q69/q71 consolidated for the driver's
    correctness window). Composes the standalone queries; each arm
    keeps its own single-shuffle window plan."""
    from patientdataintegration_spark.suite.core import (
        q69_forward_fill,
        q71_first_nth_value,
    )

    mov = q62_moving_frame(spark, sf_dir).select(
        F.lit("moving").alias("battery"),
        F.col("event_id").alias("k"),
        F.col("event_type").alias("s"),
        F.col("n_frame").alias("n"),
        F.col("mov_sum").alias("v1"),
        F.col("mov_min").alias("v2"),
    )
    ff = q69_forward_fill(spark, sf_dir).select(
        F.lit("ffill").alias("battery"),
        F.col("event_id").alias("k"),
        F.lit(None).cast("string").alias("s"),
        F.lit(None).cast("bigint").alias("n"),
        F.col("v_filled").alias("v1"),
        F.lit(None).cast("double").alias("v2"),
    )
    j = q71_first_nth_value(spark, sf_dir).select(
        F.lit("journey").alias("battery"),
        F.col("user_id").alias("k"),
        F.concat(
            F.col("first_type"), F.lit("|"), F.coalesce(F.col("third_type"), F.lit(""))
        ).alias("s"),
        F.col("n_events").alias("n"),
        F.lit(None).cast("double").alias("v1"),
        F.lit(None).cast("double").alias("v2"),
    )
    return mov.unionAll(ff).unionAll(j)


# --- LLM-pipeline additions: chunking / rarity / contamination / quantize ---


# shared by q81 (native-Column chunker) and ext3's q182 (Python-UDTF
# chunker): ONE oracle text so the two lanes can never silently
# diverge on window/stride/tokenization
CHUNKING_ORACLE_SQL = """
    WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS tk FROM documents),
    c AS (
      SELECT doc_id, tk,
             unnest(range(0,
               CAST(FLOOR((GREATEST(len(tk) - 16, 1) - 1) / 48) AS BIGINT) + 1)) AS chunk_id
      FROM t
    )
    SELECT doc_id, chunk_id,
           array_to_string(list_slice(tk, chunk_id * 48 + 1, chunk_id * 48 + 64), ' ')
             AS chunk_text,
           CAST(len(list_slice(tk, chunk_id * 48 + 1, chunk_id * 48 + 64)) AS BIGINT)
             AS n_chunk_tokens
    FROM c
    """


@register("q81_chunking", CHUNKING_ORACLE_SQL)
def q81_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (64-token windows, 16-token overlap) —
    the LLM context-window prep step as pure array expressions."""
    from patientdataintegration_spark.operators.textops import chunk_documents

    d = load_table(spark, sf_dir, "documents")
    return chunk_documents(d, chunk_size=64, overlap=16)


@register(
    "q82_token_rarity",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS tok FROM documents
    ),
    counts AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    total AS (SELECT SUM(c) AS t FROM counts)
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           round(CAST(SUM(CAST(round(ln(c / t), 6) AS DECIMAL(28,12))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_logprob,
           CAST(SUM(CASE WHEN c < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
           CAST(SUM(CASE WHEN c < 3 THEN 1 ELSE 0 END) AS BIGINT) / COUNT(*) AS rare_ratio
    FROM toks JOIN counts USING (tok) CROSS JOIN total
    GROUP BY doc_id
    """,
)
def q82_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM surprisal quality gate: mean corpus log-probability
    per document + rare-token counts. Per-token ln is rounded to 9
    digits THEN summed as exact decimal — order-independent across
    partitionings and engines (the double sum would not be)."""
    from patientdataintegration_spark.operators.textops import token_rarity

    d = load_table(spark, sf_dir, "documents")
    return token_rarity(d)


@register(
    "q83_contamination",
    f"""
    WITH {NGRAM_SH_SQL},
    h AS (SELECT doc_id, source, {HEX_HASH_SQL.format(col='shingle')} AS shash FROM sh),
    bench AS (SELECT DISTINCT shash FROM h WHERE source IN ('src0', 'src1')),
    cand AS (SELECT doc_id, shash FROM h WHERE source NOT IN ('src0', 'src1'))
    SELECT doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN b.shash IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_contaminated,
           CAST(SUM(CASE WHEN b.shash IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             / COUNT(*) AS contamination
    FROM cand LEFT JOIN bench b USING (shash)
    GROUP BY doc_id
    """,
)
def q83_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination audit: per candidate document, the
    fraction of its 3-gram shingles that appear anywhere in the
    'benchmark' subset (sources src0/src1 stand in for held-out eval
    sets)."""
    from patientdataintegration_spark.operators.textops import contamination_check

    d = load_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("source").isin("src0", "src1"))
    cand = d.filter(~F.col("source").isin("src0", "src1"))
    return contamination_check(cand, bench)


@register(
    "q84_quantize_embeddings",
    """
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(FLOOR(CAST(x AS DOUBLE) * 64) AS BIGINT)) AS codes,
             round(list_reduce(
               list_transform(range(1, len(embedding) + 1),
                 i -> (CAST(embedding[i] AS DOUBLE)
                       - FLOOR(CAST(embedding[i] AS DOUBLE) * 64) / 64)
                    * (CAST(embedding[i] AS DOUBLE)
                       - FLOOR(CAST(embedding[i] AS DOUBLE) * 64) / 64)),
               (a, e) -> a + e), 9) AS recon_err
      FROM embeddings
    )
    SELECT vec_id,
           CAST(list_reduce(codes, (a, c) -> a + c) AS BIGINT) AS code_sum,
           CAST(list_min(codes) AS BIGINT) AS code_min,
           CAST(list_max(codes) AS BIGINT) AS code_max,
           recon_err
    FROM q
    """,
)
def q84_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two scalar quantization of the embedding column with
    exact reconstruction error — every step IEEE-exact (see
    operators/similarity.quantize_embeddings). The checked output
    projects code summaries rather than the code array itself (the
    driver's value-hash contract is scalar-typed); `codes` stays
    available from the operator."""
    from patientdataintegration_spark.operators.similarity import quantize_embeddings

    e = load_table(spark, sf_dir, "embeddings")
    q = quantize_embeddings(e, levels_pow2=64)
    return q.select(
        "vec_id",
        "code_sum",
        F.array_min("codes").alias("code_min"),
        F.array_max("codes").alias("code_max"),
        "recon_err",
    )


# --- multi-resolution time rollup + PII redaction ---------------------------


@register(
    "q87_multires_rollup",
    """
    SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_s,
           CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_s,
           CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS minute_s,
           CAST(GROUPING(date_trunc('day', ts), date_trunc('hour', ts),
                         date_trunc('minute', ts)) AS BIGINT) AS gid,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY ROLLUP (date_trunc('day', ts), date_trunc('hour', ts),
                     date_trunc('minute', ts))
    """,
)
def q87_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup: minute, hour, day and
    grand-total aggregates of the event stream in ONE pass — a single
    Expand node replicates each row once per resolution, so the scan
    cost is paid once no matter how many resolutions (the continuous-
    aggregate pattern of a time-series store, spelled as ROLLUP over
    truncated timestamps). Buckets surface as epoch seconds (BIGINT)
    so the result is engine-unambiguous."""
    from patientdataintegration_spark.suite.core import _as_views

    _as_views(spark, sf_dir, "events")
    return spark.sql(
        """
        SELECT CAST(unix_timestamp(date_trunc('day', ts)) AS BIGINT) AS day_s,
               CAST(unix_timestamp(date_trunc('hour', ts)) AS BIGINT) AS hour_s,
               CAST(unix_timestamp(date_trunc('minute', ts)) AS BIGINT) AS minute_s,
               CAST(grouping_id(date_trunc('day', ts), date_trunc('hour', ts),
                                date_trunc('minute', ts)) AS BIGINT) AS gid,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY ROLLUP (date_trunc('day', ts), date_trunc('hour', ts),
                         date_trunc('minute', ts))
        """
    )


@register(
    "q100_redaction",
    r"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user-' || CAST(doc_id AS VARCHAR)
                  || '@mail.example or call 555-' || CAST(doc_id % 10000 AS VARCHAR)
               AS text
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text, '[a-z0-9-]+@[a-z.]+')) AS n_emails,
           len(regexp_extract_all(text, '[0-9]+')) AS n_digit_runs,
           regexp_replace(regexp_replace(text, '[a-z0-9-]+@[a-z.]+', '<email>', 'g'),
                          '[0-9]+', '#', 'g') AS redacted
    FROM aug
    """,
)
def q100_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style masking battery — the redaction step of a training-
    data pipeline: count and mask email-like and digit-run spans with
    portable regexes (the corpus has no organic PII, so a
    deterministic contact line is synthesized per document first —
    the masking mechanics are what is exercised). Pure per-row
    expressions, zero shuffle."""
    d = load_table(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user-"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example or call 555-"),
            (F.col("doc_id") % 10000).cast("string"),
        ).alias("text"),
    )
    email = r"[a-z0-9-]+@[a-z.]+"
    digits = r"[0-9]+"
    return aug.select(
        "doc_id",
        F.size(F.expr(f"regexp_extract_all(text, '{email}', 0)")).cast("bigint").alias("n_emails"),
        F.size(F.expr(f"regexp_extract_all(text, '{digits}', 0)")).cast("bigint").alias("n_digit_runs"),
        F.regexp_replace(
            F.regexp_replace(F.col("text"), email, "<email>"), digits, "#"
        ).alias("redacted"),
    )


# --- CDC upsert merge + time-weighted average -------------------------------


@register(
    "q101_upsert_merge",
    """
    WITH base AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM (
        SELECT user_id, event_id, ts, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts < TIMESTAMP '2024-01-25'
      ) WHERE rn = 1
    ),
    delta AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM (
        SELECT user_id, event_id, ts, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts >= TIMESTAMP '2024-01-25'
      ) WHERE rn = 1
    )
    SELECT COALESCE(d.user_id, b.user_id) AS user_id,
           COALESCE(d.event_id, b.event_id) AS event_id,
           COALESCE(d.ts_us, b.ts_us) AS ts_us,
           COALESCE(d.value, b.value) AS value,
           CASE WHEN d.user_id IS NOT NULL AND b.user_id IS NOT NULL THEN 'updated'
                WHEN d.user_id IS NOT NULL THEN 'inserted'
                ELSE 'unchanged' END AS merge_action
    FROM base b FULL OUTER JOIN delta d ON b.user_id = d.user_id
    """,
)
def q101_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse MERGE/upsert semantics without a table format: the
    delta partition's latest row per key overrides the base state,
    keys only in the delta insert, untouched keys carry over — a FULL
    OUTER join of two latest-per-key compactions plus coalesce. Both
    compactions shuffle once on the key; the merge join reuses that
    hash partitioning (no extra exchange under ALL scale factors —
    this is exactly how periodic CDC compaction jobs run at 100 TB:
    partition-pruned delta vs bucketed base)."""
    e = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-25").cast("timestamp")

    def latest(df):
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "user_id", "event_id", F.unix_micros("ts").alias("ts_us"), "value"
            )
        )

    base = latest(e.filter(F.col("ts") < cutoff)).alias("b")
    delta = latest(e.filter(F.col("ts") >= cutoff)).alias("d")
    merged = base.join(delta, F.col("b.user_id") == F.col("d.user_id"), "full_outer")
    action = (
        F.when(
            F.col("d.user_id").isNotNull() & F.col("b.user_id").isNotNull(),
            F.lit("updated"),
        )
        .when(F.col("d.user_id").isNotNull(), F.lit("inserted"))
        .otherwise(F.lit("unchanged"))
    )
    return merged.select(
        F.coalesce(F.col("d.user_id"), F.col("b.user_id")).alias("user_id"),
        F.coalesce(F.col("d.event_id"), F.col("b.event_id")).alias("event_id"),
        F.coalesce(F.col("d.ts_us"), F.col("b.ts_us")).alias("ts_us"),
        F.coalesce(F.col("d.value"), F.col("b.value")).alias("value"),
        action.alias("merge_action"),
    )


@register(
    "q102_time_weighted_avg",
    """
    WITH t AS (
      SELECT user_id, epoch_us(ts) AS ts_us, value,
             LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_us
      FROM events
    )
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * (next_us - ts_us)) AS BIGINT)) AS DOUBLE)
                / (MAX(ts_us) - MIN(ts_us)) AS twa
    FROM t
    WHERE next_us IS NOT NULL
    GROUP BY user_id
    HAVING MAX(ts_us) > MIN(ts_us)
    """,
)
def q102_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average over irregularly-sampled events (the
    timeseries-store `time_weight` operator): each observation is
    held until the next one (LOCF integration), so
    twa = Σ value_i·(t_{i+1}−t_i) / (t_last − t_first) per key.
    One shuffle serves both the LEAD window and the aggregate (same
    user_id partitioning). Each product value·Δt (µs units, so the
    integer part alone carries ~12 significant digits) is floored to
    a bigint before summing: floor is rounding-mode-unambiguous
    across engines (a double→decimal cast is NOT — half-up vs
    half-even), integer sums are order-independent, and the single
    final division is deterministic — bit-identical at any
    parallelism."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = e.select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "value",
        F.lead(F.unix_micros("ts")).over(w).alias("next_us"),
    ).filter(F.col("next_us").isNotNull())
    g = t.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            F.floor(F.col("value") * (F.col("next_us") - F.col("ts_us"))).cast("bigint")
        ).alias("_num"),
        F.max("ts_us").alias("_mx"),
        F.min("ts_us").alias("_mn"),
    )
    return (
        g.filter(F.col("_mx") > F.col("_mn"))
        .select(
            "user_id",
            "n_events",
            (F.col("_num").cast("double") / (F.col("_mx") - F.col("_mn")))
            .cast("double")
            .alias("twa"),
        )
    )


# --- VARIANT (semi-structured) battery --------------------------------------


@register(
    "q103_variant_battery",
    """
    WITH j AS (
      SELECT event_id,
             '{"u": ' || CAST(user_id AS VARCHAR)
               || ', "t": "' || event_type || '"'
               || ', "ks": [' || CAST(json_extract(props::JSON, '$.k') AS VARCHAR)
               || ', ' || CAST(CAST(json_extract(props::JSON, '$.k') AS BIGINT) * 2 AS VARCHAR)
               || ']}' AS doc
      FROM events
    )
    SELECT event_id,
           CAST(json_extract(doc::JSON, '$.u') AS BIGINT) AS u,
           CAST(json_extract_string(doc::JSON, '$.t') AS VARCHAR) AS t,
           CAST(json_extract(doc::JSON, '$.ks[0]') AS BIGINT) AS k0,
           CAST(json_extract(doc::JSON, '$.ks[1]') AS BIGINT) AS k1
    FROM j
    """,
)
def q103_variant_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured lane on Spark 4's VARIANT type: a nested JSON
    document (synthesized from row fields + the `props` payload) goes
    through `parse_json` ONCE into a variant value, and every typed
    path extraction (`variant_get` scalar, string, array index) reads
    the decoded binary form — the engine-native answer to repeated
    `get_json_object` string re-parses (q29's lane), and the right
    shape for schema-on-read event payloads at 100 TB. Oracle mirrors
    with DuckDB's JSON extraction on the same document."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    doc = F.concat(
        F.lit('{"u": '),
        F.col("user_id").cast("string"),
        F.lit(', "t": "'),
        F.col("event_type"),
        F.lit('", "ks": ['),
        k.cast("string"),
        F.lit(", "),
        (k * 2).cast("string"),
        F.lit("]}"),
    )
    v = e.select("event_id", F.parse_json(doc).alias("v"))
    return v.select(
        "event_id",
        F.expr("variant_get(v, '$.u', 'bigint')").alias("u"),
        F.expr("variant_get(v, '$.t', 'string')").alias("t"),
        F.expr("variant_get(v, '$.ks[0]', 'bigint')").alias("k0"),
        F.expr("variant_get(v, '$.ks[1]', 'bigint')").alias("k1"),
    )


def _q104_sql() -> str:
    """Closed-form PCM replay: data byte i of file k is
    md5(str(k)+str(i)).digest()[0] (bytes >= 64 are zero padding);
    channel-0 int16 frames are (lo + 256*hi) sign-folded; every
    per-file statistic is exact float arithmetic replayed with the
    decoder's parenthesisation ((ssq/2^30)/n, |s|/32768)."""
    u = (
        "CAST(('0x' || substr(md5(CAST(k AS VARCHAR) || "
        "CAST(j * blk AS VARCHAR)), 1, 2)) AS BIGINT) "
        "+ 256 * CAST(('0x' || substr(md5(CAST(k AS VARCHAR) || "
        "CAST(j * blk + 1 AS VARCHAR)), 1, 2)) AS BIGINT)"
    )
    return f"""
    WITH f AS (
      SELECT p_partkey AS k,
             CAST(1 + (p_partkey % 2) AS INTEGER) AS channels,
             CAST(2 * (1 + (p_partkey % 2)) AS BIGINT) AS blk,
             CAST(100 + (p_partkey % 400) AS BIGINT) AS n_frames
      FROM part
    ),
    pcm AS (
      SELECT k, channels, blk, n_frames,
             list_transform(
               list_transform(range(0, 64 // blk), j -> {u}),
               u -> CASE WHEN u >= 32768 THEN u - 65536 ELSE u END) AS s
      FROM f
    ),
    per_file AS (
      SELECT channels, n_frames,
             44 + n_frames * blk AS n_bytes,
             sqrt((CAST(list_sum(list_transform(s, x -> x * x)) AS DOUBLE)
                   / 1073741824.0) / n_frames) AS rms,
             CAST(list_max(list_transform(s, x -> abs(x))) AS DOUBLE)
               / 32768.0 AS peak
      FROM pcm
    )
    SELECT 8000 AS sample_rate, channels, 16 AS bits_per_sample,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(n_frames) AS BIGINT) AS total_samples,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           round(CAST(SUM(CAST(round(rms, 9) AS DECIMAL(28,12)))
                      AS DOUBLE) / COUNT(*), 6) AS avg_rms,
           MAX(peak) AS max_peak
    FROM per_file
    GROUP BY channels
    """


@register("q104_audio_metadata", _q104_sql())
def q104_audio_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio modality lane end-to-end: deterministic RIFF/WAVE
    payloads (synthetic_wavs over the part table) through the REAL
    header parser AND the REAL PCM sample decode (`audio_features`:
    RMS / peak / zero-crossing rate from the actual int16 frames),
    aggregated per channel layout. Rows-only check; pytest pins both
    the header-parse and the PCM statistics (square-wave /
    silence / truncation fixtures)."""
    from patientdataintegration_spark.operators.multimodal import (
        audio_features,
        synthetic_wavs,
    )

    p = load_table(spark, sf_dir, "part")
    wavs = synthetic_wavs(p, "p_partkey")
    feats = audio_features(wavs)
    return (
        feats.groupBy("sample_rate", "channels", "bits_per_sample")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum("n_samples").cast("bigint").alias("total_samples"),
            F.sum("n_bytes").cast("bigint").alias("total_bytes"),
            # per-file rms rounds at 9 (sqrt output — boundary-safe)
            # then sums as DECIMAL so the file order never matters
            # (q82 discipline); one exact division, one final round
            F.round(
                F.sum(
                    F.round(F.col("rms"), 9).cast("decimal(28,12)")
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_rms"),
            # per-file peaks are EXACT doubles (|s|/32768, a binary
            # rational) — the max needs no rounding and rounding
            # could land on a half-decimal boundary, so keep it raw
            F.max("peak").alias("max_peak"),
        )
    )


# --- within-document repetition signals (Gopher-rule family) ----------------


@register(
    "q105_repetition_signals",
    """
    WITH toks AS (
      SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents
    ),
    g AS (
      SELECT doc_id, 1 AS k, unnest(t) AS gram FROM toks
      UNION ALL
      SELECT doc_id, 2 AS k,
             unnest(list_transform(range(1, len(t)), i -> concat_ws(' ', t[i], t[i+1])))
      FROM toks WHERE len(t) >= 2
      UNION ALL
      SELECT doc_id, 3 AS k,
             unnest(list_transform(range(1, len(t) - 1),
                                   i -> concat_ws(' ', t[i], t[i+1], t[i+2])))
      FROM toks WHERE len(t) >= 3
    ),
    c AS (SELECT doc_id, k, gram, COUNT(*) AS c FROM g GROUP BY doc_id, k, gram)
    SELECT doc_id,
           CAST(SUM(CASE WHEN k = 1 THEN c END) AS BIGINT) AS n_tokens,
           CAST(MAX(CASE WHEN k = 1 THEN c END) AS DOUBLE)
             / CAST(SUM(CASE WHEN k = 1 THEN c END) AS DOUBLE) AS top_token_frac,
           CAST(MAX(CASE WHEN k = 2 THEN c END) AS DOUBLE)
             / CAST(SUM(CASE WHEN k = 2 THEN c END) AS DOUBLE) AS top_2gram_frac,
           CAST(SUM(CASE WHEN k = 2 THEN c END) - COUNT(CASE WHEN k = 2 THEN 1 END) AS DOUBLE)
             / CAST(SUM(CASE WHEN k = 2 THEN c END) AS DOUBLE) AS dup_2gram_frac,
           CAST(SUM(CASE WHEN k = 3 THEN c END) - COUNT(CASE WHEN k = 3 THEN 1 END) AS DOUBLE)
             / CAST(SUM(CASE WHEN k = 3 THEN c END) AS DOUBLE) AS dup_3gram_frac
    FROM c GROUP BY doc_id
    """,
)
def q105_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition quality signals (top-token fraction,
    top/duplicate n-gram occurrence fractions for n=2,3) — the
    Gopher-rule repetition family. Exact integer-ratio outputs."""
    from patientdataintegration_spark.operators.textops import repetition_signals

    d = load_table(spark, sf_dir, "documents")
    return repetition_signals(d)


# --- token-budget corpus downsampling ---------------------------------------


def _q106_sql() -> str:
    from patientdataintegration_spark.functions.deterministic import pseudo_random_sql

    return f"""
    WITH base AS (
      SELECT doc_id, source,
             CASE WHEN len(trim(text)) = 0 THEN 0
                  ELSE len(string_split(text, ' ')) END AS n_tokens
      FROM documents
    ),
    cum AS (
      SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(SUM(n_tokens) OVER (
               PARTITION BY source
               ORDER BY {pseudo_random_sql('doc_id')} ASC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens
      FROM base
    )
    SELECT * FROM cum WHERE cum_tokens <= 1500 OR cum_tokens = n_tokens
    """


@register("q106_token_budget_sample", _q106_sql())
def q106_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample the corpus to a deterministic 1500-token budget per
    source — the "N tokens per source" mixing step of training-set
    assembly. Selection order is a seeded engine-portable hash, so
    the kept subset is identical across runs, engines, partitionings."""
    from patientdataintegration_spark.operators.sampling import token_budget_sample

    d = load_table(spark, sf_dir, "documents")
    return token_budget_sample(d, budget_tokens=1500)


# --- JSONL roundtrip (corpus interchange format) -----------------------------


_TOKENS_SQL = (
    "CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len(string_split(text, ' ')) END"
)


@register(
    "q107_jsonl_roundtrip",
    f"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM({_TOKENS_SQL}) AS BIGINT) AS total_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
    FROM documents GROUP BY source
    """,
)
def q107_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus → JSONL shards → schema-enforced read-back → per-source
    audit aggregate. The oracle computes the SAME aggregate straight
    from the parquet, so a green row proves the JSONL emit+ingest is
    lossless (counts, char/token totals, id ranges all survive)."""
    import tempfile

    from patientdataintegration_spark.operators.textops import token_count
    from patientdataintegration_spark.sources.jsonl_io import read_jsonl, write_jsonl

    d = load_table(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="pdi_q107_jsonl_") + "/docs"
    write_jsonl(d, path, n_files=4)
    back = read_jsonl(spark, path, schema=d.schema)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum(token_count(F.col("text")).cast("bigint"))
        .cast("bigint")
        .alias("total_tokens"),
        F.min("doc_id").cast("bigint").alias("min_doc_id"),
        F.max("doc_id").cast("bigint").alias("max_doc_id"),
    )


# --- sequence packing (concat-and-chop) --------------------------------------


def _q108_sql(seq_len: int = 512) -> str:
    from patientdataintegration_spark.functions.deterministic import pseudo_random_sql

    return f"""
    WITH base AS (
      SELECT doc_id, source, CAST({_TOKENS_SQL} AS BIGINT) AS n_tokens
      FROM documents
    ),
    cum AS (
      SELECT doc_id, source, n_tokens,
             CAST(SUM(n_tokens) OVER (
               PARTITION BY source
               ORDER BY {pseudo_random_sql('doc_id')} ASC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens
      FROM base
    )
    SELECT doc_id, source, n_tokens,
           CAST((cum_tokens - n_tokens) // {seq_len} AS BIGINT) AS pack_id,
           CAST((cum_tokens - n_tokens) % {seq_len} AS BIGINT) AS pack_offset,
           CAST(CASE WHEN n_tokens = 0 THEN 1
                ELSE ((cum_tokens - 1) // {seq_len})
                     - ((cum_tokens - n_tokens) // {seq_len}) + 1 END
                AS BIGINT) AS packs_spanned
    FROM cum
    """


@register("q108_sequence_packing", _q108_sql())
def q108_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chop packing manifest: each document's pack id,
    offset, and straddle count for 512-token training sequences,
    in deterministic seeded-hash order per source. Pure integer
    arithmetic over an exact running sum — bit-exact everywhere."""
    from patientdataintegration_spark.operators.sampling import pack_sequences

    d = load_table(spark, sf_dir, "documents")
    return pack_sequences(d, seq_len=512)


# --- shard manifest ----------------------------------------------------------


@register(
    "q109_shard_manifest",
    f"""
    WITH s AS (
      SELECT {HEX_HASH_SQL.format(col="CAST(doc_id AS VARCHAR)")} % 16 AS shard,
             doc_id, n_chars, {_TOKENS_SQL} AS n_tokens
      FROM documents
    )
    SELECT CAST(shard AS INT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_bytes,
           CAST(MIN(doc_id) AS BIGINT) AS min_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_id
    FROM s GROUP BY shard
    """,
)
def q109_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Emit-side shard manifest: 16 engine-portable md5 shards with
    exact doc/token/byte totals and id ranges — what a loader
    validates before streaming a shard. One hash-agg shuffle whose
    key IS the physical shard layout."""
    from patientdataintegration_spark.operators.indexing import shard_manifest

    d = load_table(spark, sf_dir, "documents")
    return shard_manifest(d, n_shards=16)


# --- inverted index ----------------------------------------------------------


@register(
    "q110_inverted_index",
    """
    WITH t AS (
      SELECT DISTINCT doc_id, term
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      WHERE term <> ''
    ),
    r AS (
      SELECT term, doc_id,
             ROW_NUMBER() OVER (PARTITION BY term ORDER BY doc_id ASC) AS rn,
             COUNT(*) OVER (PARTITION BY term) AS df
      FROM t
    )
    SELECT term, CAST(MAX(df) AS BIGINT) AS doc_freq,
           array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
    FROM r WHERE rn <= 16 GROUP BY term HAVING MAX(df) >= 2
    """,
)
def q110_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus inverted index: term → doc-frequency + capped sorted
    posting list (16 ids). The cap is applied by per-term row_number
    BEFORE collect_list, so hot terms never materialize O(corpus)
    arrays in one task. Postings are emitted comma-joined (a scalar
    string) so the result is hashable by any downstream harness; the
    operator itself keeps the typed array form."""
    from patientdataintegration_spark.operators.indexing import inverted_index

    d = load_table(spark, sf_dir, "documents")
    idx = inverted_index(d, min_df=2, max_postings=16)
    return idx.withColumn(
        "postings",
        F.concat_ws(",", F.transform("postings", lambda x: x.cast("string"))),
    )


# --- Z-order layout audit ----------------------------------------------------


def _q111_sql() -> str:
    from patientdataintegration_spark.plans.partitioning import morton_code_sql

    quant = (
        "CASE WHEN {mx} = {mn} THEN 0 ELSE CAST(FLOOR(({c} - {mn}) / ({mx} - {mn})"
        " * 1023) AS BIGINT) END"
    )
    qx = quant.format(c="user_id", mn="xmin", mx="xmax")
    qy = quant.format(c="value", mn="ymin", mx="ymax")
    return f"""
    WITH b AS (
      SELECT MIN(user_id) AS xmin, MAX(user_id) AS xmax,
             MIN(value) AS ymin, MAX(value) AS ymax
      FROM events
    ),
    z AS (
      SELECT {morton_code_sql(qx, qy)} >> 14 AS zbucket, user_id, value
      FROM events, b
    )
    SELECT CAST(zbucket AS BIGINT) AS zbucket,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(user_id) AS BIGINT) AS min_user,
           CAST(MAX(user_id) AS BIGINT) AS max_user,
           MIN(value) AS min_value, MAX(value) AS max_value
    FROM z GROUP BY zbucket
    """


@register("q111_zorder_layout", _q111_sql())
def q111_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering audit: events bucketed by the top bits of
    the Morton code of (user_id, value). Each bucket's min/max spans
    on BOTH dimensions are what per-file statistics would be after a
    `zorder_by` write — tight on either column, so range predicates
    on user OR value prune buckets. Integer interleave is exact; the
    min-max quantization is one fixed IEEE expression."""
    from patientdataintegration_spark.plans.partitioning import (
        morton_code,
        quantize_minmax,
    )

    e = load_table(spark, sf_dir, "events").select("user_id", "value")
    bounds = e.agg(
        F.min("user_id").alias("xmin"),
        F.max("user_id").alias("xmax"),
        F.min("value").alias("ymin"),
        F.max("value").alias("ymax"),
    )
    z = morton_code(
        quantize_minmax(F.col("user_id"), F.col("xmin"), F.col("xmax")),
        quantize_minmax(F.col("value"), F.col("ymin"), F.col("ymax")),
    )
    return (
        e.join(F.broadcast(bounds))
        .withColumn("zbucket", F.shiftright(z, 14))
        .groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.min("user_id").cast("bigint").alias("min_user"),
            F.max("user_id").cast("bigint").alias("max_user"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )


# --- winsorization -----------------------------------------------------------


@register(
    "q112_winsorize",
    """
    WITH r AS (
      SELECT event_id, event_type, value,
             COUNT(*) OVER (PARTITION BY event_type) AS n,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value ASC) AS rn
      FROM events
    ),
    b AS (
      SELECT event_id, event_type, value,
             MAX(CASE WHEN rn = GREATEST(1, CEIL(0.05 * n)) THEN value END)
               OVER (PARTITION BY event_type) AS lo,
             MAX(CASE WHEN rn = CEIL(0.95 * n) THEN value END)
               OVER (PARTITION BY event_type) AS hi
      FROM r
    )
    SELECT event_id, event_type, value,
           LEAST(GREATEST(value, lo), hi) AS value_w
    FROM b
    """,
)
def q112_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type winsorization of `value` at the discrete
    [p05, p95] percentiles — outlier capping before features reach a
    model. Percentile-by-rank selects existing values (no
    interpolation), so clamping is exact across engines."""
    from patientdataintegration_spark.operators.encodings import winsorize

    e = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return winsorize(e, "value", "event_type", out_col="value_w")


# --- skew-neutralized join ---------------------------------------------------


@register(
    "q113_salted_join",
    """
    SELECT c.c_mktsegment AS c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q113_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-neutralized enrich-then-aggregate: events carry a HOT
    user_id distribution (a handful of users own most events), so the
    shuffle key for the join is widened to (user_id, salt) by
    `operators/skew.salted_join` — each hot user's rows spread over 8
    reducers, the customer side replicated 8×. Result is identical to
    the plain join BY CONSTRUCTION, which is exactly what the plain-
    SQL oracle checks. Decimal sum keeps the aggregate order-
    independent across the salted partitioning."""
    from patientdataintegration_spark.operators.skew import salted_join

    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    c = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    j = salted_join(e, c, on=["user_id"], n_salts=8, salt_key_cols=["event_id"])
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )


# --- incremental rollup maintenance ------------------------------------------


@register(
    "q114_incremental_rollup",
    """
    SELECT o_orderpriority,
           CAST(COUNT(o_totalprice) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_v,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(o_totalprice) AS avg_v,
           MIN(o_totalprice) AS min_v,
           MAX(o_totalprice) AS max_v
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q114_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance: the orders table is split into a
    'historical' slice (< 1999-01-01) and a 'delta' (the rest), each
    aggregated independently into mergeable (n, decimal-sum, min, max)
    state, then merged (`operators/incremental`). The oracle is ONE
    aggregation of the full table — the decimal monoid makes
    merge-of-partials bit-identical to recompute, which is the whole
    point: at scale you aggregate only the delta, never the history."""
    from patientdataintegration_spark.operators.incremental import (
        merge_rollups,
        partial_rollup,
        rollup_readout,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice", "o_orderdate"
    )
    cut = "1999-01-01"
    hist = partial_rollup(
        o.filter(F.col("o_orderdate") < cut), ["o_orderpriority"], "o_totalprice"
    )
    delta = partial_rollup(
        o.filter(F.col("o_orderdate") >= cut), ["o_orderpriority"], "o_totalprice"
    )
    merged = merge_rollups([hist, delta], ["o_orderpriority"])
    out = rollup_readout(merged, ["o_orderpriority"])
    return out.select(
        "o_orderpriority",
        "n",
        F.col("sum_v").alias("sum_v"),
        "avg_v",
        "min_v",
        "max_v",
    )


# --- connected components (star algorithm, oracle-checked) -------------------


def _q115_sql() -> str:
    return f"""
    WITH RECURSIVE pairs AS ({_lsh_pairs_sql()}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, lab) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT CAST(node AS BIGINT) AS node, CAST(MIN(lab) AS BIGINT) AS label
    FROM reach GROUP BY node
    """


@register("q115_components_star", _q115_sql())
def q115_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters via the O(log n)-round large-star/small-star
    algorithm (`dedup.connected_components_star`) over MinHash-LSH
    candidate pairs — the first ORACLE-CHECKED clustering query: the
    DuckDB twin computes min-reachable-label by recursive transitive
    closure over the same md5-derived LSH pairs, so an agreement is
    end-to-end (shingle → minhash → banding → graph → labels)."""
    from patientdataintegration_spark.operators.dedup import (
        connected_components_star,
        lsh_candidate_pairs,
    )

    d = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(shingle_table(d), k=8, seed=42)
    pairs = lsh_candidate_pairs(sigs, bands=4, rows_per_band=2)
    return connected_components_star(pairs)


# --- bucketed co-located join (shuffle paid once, at write time) -------------


@register(
    "q116_bucketed_join",
    """
    SELECT c.c_mktsegment AS c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q116_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join through BUCKETED tables: both sides are first
    written hash-clustered on the join key (`sources/bucketing`), so
    the join itself runs with ZERO Exchange — the plan-shape test
    pins that property. The write-time clustering is the shuffle this
    key's joins never pay again; the oracle (a plain join) certifies
    the layout change is invisible to results. Identical aggregate to
    a plain plan BY CONSTRUCTION — bucket routing uses the same
    pmod(murmur3) hash the exchange would."""
    import hashlib

    from patientdataintegration_spark.sources.bucketing import (
        bucketed_join,
        write_bucketed,
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = f"/root/repo/.scratch/bucketed/{tag}"
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    write_bucketed(o, f"bkt_orders_{tag}", f"{base}/orders", ["o_custkey"], 8)
    write_bucketed(
        c.withColumnRenamed("c_custkey", "o_custkey"),
        f"bkt_customer_{tag}",
        f"{base}/customer",
        ["o_custkey"],
        8,
    )
    j = bucketed_join(spark, f"bkt_orders_{tag}", f"bkt_customer_{tag}", ["o_custkey"])
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double").alias("sum_price"),
    )


# --- incremental dedup against a fingerprint store ---------------------------


@register(
    "q117_incremental_dedup",
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
def q117_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily-crawl dedup pattern: 70% of the corpus plays the
    role of the already-deduped HISTORY (reduced to its fingerprint
    store), the rest is today's DELTA; the delta is deduped against
    the store by `left_anti` join and within itself by groupBy —
    history is never rescanned (`dedup.incremental_exact_dedup`).
    The oracle states the same semantics declaratively (NOT EXISTS
    + GROUP BY over md5 fingerprints)."""
    from patientdataintegration_spark.operators.dedup import incremental_exact_dedup
    from patientdataintegration_spark.operators.textops import fingerprint

    d = load_table(spark, sf_dir, "documents")
    hist = fingerprint(d.filter(F.col("doc_id") % 10 < 7)).select("fingerprint").distinct()
    delta = d.filter(F.col("doc_id") % 10 >= 7)
    return incremental_exact_dedup(delta, hist)


# --- single-pass table profiler ----------------------------------------------


def _q118_profile_sql() -> str:
    num = """
    SELECT '{c}' AS col_name,
           CAST(COUNT({c}) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
           CAST(MIN({c}) AS DOUBLE) AS min_num,
           CAST(MAX({c}) AS DOUBLE) AS max_num,
           CAST(SUM(CAST({c} AS DECIMAL(18,6))) AS DOUBLE) AS sum_v,
           CAST(NULL AS VARCHAR) AS min_str,
           CAST(NULL AS VARCHAR) AS max_str
    FROM lineitem"""
    strc = """
    SELECT '{c}' AS col_name,
           CAST(COUNT({c}) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
           CAST(NULL AS DOUBLE) AS min_num,
           CAST(NULL AS DOUBLE) AS max_num,
           CAST(NULL AS DOUBLE) AS sum_v,
           MIN({c}) AS min_str,
           MAX({c}) AS max_str
    FROM lineitem"""
    parts = [num.format(c=c) for c in ("l_quantity", "l_extendedprice")] + [
        strc.format(c=c) for c in ("l_returnflag", "l_linestatus")
    ]
    return " UNION ALL ".join(parts)


@register("q118_profile", _q118_profile_sql())
def q118_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admission-gate profiling: stats for 4 lineitem columns in ONE
    scan + one hash aggregate (`operators/profiling.profile`); the
    oracle is the naive 4-subquery UNION ALL — same report, N passes.
    The single-pass shape is the point at 100 TB."""
    from patientdataintegration_spark.operators.profiling import profile

    li = load_table(spark, sf_dir, "lineitem")
    return profile(
        li,
        numeric_cols=["l_quantity", "l_extendedprice"],
        string_cols=["l_returnflag", "l_linestatus"],
    )


# --- cross-corpus (bipartite) LSH near-dup -----------------------------------


def _q119_sql(bands: int = 4, rows_per_band: int = 2, seed: int = 42) -> str:
    sig = _minhash_sql(bands * rows_per_band, seed)
    band_selects = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band, concat(mh_{i}, '_', mh_{j}) AS key FROM sig".format(
            b=b, i=b * rows_per_band, j=b * rows_per_band + 1
        )
        for b in range(bands)
    )
    return f"""
    WITH sig AS ({sig}),
    banded AS (
      {band_selects}
    ),
    a AS (SELECT * FROM banded WHERE doc_id % 10 < 7),
    b AS (SELECT * FROM banded WHERE doc_id % 10 >= 7)
    SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
    FROM a JOIN b ON a.band = b.band AND a.key = b.key
    """


@register("q119_crosscorpus_neardup", _q119_sql())
def q119_crosscorpus_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination-shaped LSH: near-dup candidates BETWEEN the
    'training' slice (70% of docs, playing the persisted banded-key
    store) and the 'crawl' slice — never within either side
    (`dedup.lsh_candidate_pairs_bipartite`). Same md5-derived
    minhash pipeline as q92, so the oracle checks the full chain."""
    from patientdataintegration_spark.operators.dedup import (
        lsh_candidate_pairs_bipartite,
    )

    d = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(shingle_table(d), k=8, seed=42)
    train = sigs.filter(F.col("doc_id") % 10 < 7)
    crawl = sigs.filter(F.col("doc_id") % 10 >= 7)
    return lsh_candidate_pairs_bipartite(train, crawl, bands=4, rows_per_band=2)


# --- source-mixture reweighting ----------------------------------------------


@register(
    "q120_mixture_weights",
    """
    WITH per AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total,
                 CAST(COUNT(*) AS BIGINT) AS nsrc FROM per)
    SELECT source, n_docs, n_tokens,
           CAST(n_tokens AS DOUBLE) / total AS natural_share,
           LEAST(4.0, (CAST(total AS DOUBLE) / nsrc) / n_tokens) AS weight,
           LEAST(4.0, (CAST(total AS DOUBLE) / nsrc) / n_tokens) * n_tokens
             AS target_tokens
    FROM per, t
    """,
)
def q120_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum mixing: per-source sampling weights that equalize
    token share across sources, capped at 4 epochs
    (`operators/mixture.mixture_weights`). One scan; the weights
    frame is O(#sources) rows. Every ratio is a single IEEE division
    of exact integers — bit-identical to the DuckDB twin."""
    from patientdataintegration_spark.operators.mixture import mixture_weights

    d = load_table(spark, sf_dir, "documents")
    return mixture_weights(d, max_epochs=4.0)


# --- time-grid resample with linear interpolation ----------------------------


@register(
    "q121_resample_interp",
    """
    WITH obs AS (
      SELECT user_id AS k, epoch_us(ts) AS us, MIN(value) AS v
      FROM events GROUP BY k, us
    ),
    bounds AS (
      SELECT k,
             (MIN(us) + 3599999999) - ((MIN(us) + 3599999999) % 3600000000) AS lo,
             MAX(us) - (MAX(us) % 3600000000) AS hi
      FROM obs GROUP BY k
    ),
    grid AS (
      SELECT k, unnest(generate_series(lo, hi, 3600000000)) AS us
      FROM bounds WHERE lo <= hi
    ),
    tagged AS (
      SELECT k, us, v, 0 AS kind FROM obs
      UNION ALL
      SELECT k, us, NULL, 1 FROM grid
    ),
    nb AS (
      SELECT k, us AS g_us, kind,
             last_value(v IGNORE NULLS) OVER
               (PARTITION BY k ORDER BY us, kind
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_v,
             last_value(CASE WHEN v IS NOT NULL THEN us END IGNORE NULLS) OVER
               (PARTITION BY k ORDER BY us, kind
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_us,
             first_value(v IGNORE NULLS) OVER
               (PARTITION BY k ORDER BY us, kind
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_v,
             first_value(CASE WHEN v IS NOT NULL THEN us END IGNORE NULLS) OVER
               (PARTITION BY k ORDER BY us, kind
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_us
      FROM tagged
    )
    SELECT CAST(k AS BIGINT) AS user_id, CAST(g_us AS BIGINT) AS us,
           CASE WHEN p_us IS NULL THEN n_v
                WHEN n_us IS NULL THEN p_v
                WHEN n_us = p_us THEN p_v
                ELSE p_v + (n_v - p_v)
                       * (CAST(g_us - p_us AS DOUBLE) / CAST(n_us - p_us AS DOUBLE))
           END AS v_interp
    FROM nb WHERE kind = 1
    """,
)
def q121_resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Irregular series → hour-aligned grid with linear interpolation
    (`temporal.resample_linear`): tagged union + ONE window pass per
    key, never a grid x events range join. The oracle spells the
    identical union/window/interpolation arithmetic in SQL, so the
    doubles match bit-for-bit (same IEEE op order)."""
    from patientdataintegration_spark.operators.temporal import resample_linear

    e = load_table(spark, sf_dir, "events")
    return resample_linear(e)


# --- mixture realization (deterministic weighted sampling) -------------------


_Q122_WEIGHTS_SQL = """
    per AS (
      SELECT source,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total,
                 CAST(COUNT(*) AS BIGINT) AS nsrc FROM per),
    w AS (
      SELECT source,
             LEAST(4.0, (CAST(total AS DOUBLE) / nsrc) / n_tokens) AS weight
      FROM per, t
    )
"""


def _q122_sql() -> str:
    from patientdataintegration_spark.functions.deterministic import (
        pseudo_random_sql,
    )

    draw = pseudo_random_sql("doc_id", "epoch", 42)
    return f"""
    WITH {_Q122_WEIGHTS_SQL},
    e AS (
      SELECT d.doc_id, d.source, w.weight, ep.epoch
      FROM documents d
      JOIN w USING (source)
      CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS epoch) ep
      WHERE ep.epoch <= FLOOR(w.weight)
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, source, CAST(epoch AS INT) AS epoch
    FROM e
    WHERE epoch < FLOOR(weight)
       OR {draw} < (weight - FLOOR(weight)) * 1000000007
    """


@register("q122_realize_mixture", _q122_sql())
def q122_realize_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized curriculum: every doc appears floor(weight)
    times plus a fractional epoch drawn by the engine-portable
    integer hash (`mixture.realize_mixture`) — the realized training
    set is bit-identical across runs/engines/partitionings. Weights
    come from `mixture_weights` (uniform token target, 4-epoch cap)
    and are broadcast (O(#sources) rows)."""
    from patientdataintegration_spark.operators.mixture import (
        mixture_weights,
        realize_mixture,
    )

    d = load_table(spark, sf_dir, "documents")
    weights = mixture_weights(d, max_epochs=4.0)
    out = realize_mixture(d, weights, seed=42)
    return out.select("doc_id", "source", F.col("epoch").cast("int").alias("epoch"))


# --- vocabulary coverage curve ----------------------------------------------


@register(
    "q123_vocab_coverage",
    """
    WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
    counts AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY token),
    r AS (
      SELECT token, cnt,
             CAST(row_number() OVER (ORDER BY cnt DESC, token ASC) AS BIGINT) AS rnk,
             CAST(SUM(cnt) OVER (ORDER BY cnt DESC, token ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               / SUM(cnt) OVER () AS cum_share
      FROM counts
    )
    SELECT token, cnt, rnk, cum_share FROM r WHERE rnk <= 200
    """,
)
def q123_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary sizing: top-200 token types with the
    cumulative share of corpus occurrences they cover
    (`textops.vocab_coverage`). The ranking windows run over the
    type table (post-agg), not the corpus; ties break on the token
    string under binary collation in both engines."""
    from patientdataintegration_spark.operators.textops import vocab_coverage

    d = load_table(spark, sf_dir, "documents")
    return vocab_coverage(d, top_n=200).withColumnRenamed("rank", "rnk")


# --- forward / nearest as-of joins ------------------------------------------


@register(
    "q124_asof_forward",
    """
    SELECT e.event_id, e.user_id, e.value,
           c.value AS next_click_value,
           epoch_us(c.ts) - epoch_us(e.ts) AS micros_until
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON e.user_id = c.user_id AND e.ts <= c.ts
    """,
)
def q124_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each error picks up the user's EARLIEST
    click at-or-after it (operators/temporal.asof_join
    direction='forward' — the mirrored first(ignorenulls) window over
    the same single-shuffle tagged union; DuckDB spells it as ASOF
    with the inequality flipped)."""
    from patientdataintegration_spark.operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    j = asof_join(
        errors, clicks, on=["user_id"], payload=["value"], how="inner",
        direction="forward",
    )
    return j.select(
        "event_id",
        "user_id",
        "value",
        F.col("asof_value").alias("next_click_value"),
        (F.unix_micros("asof_ts") - F.unix_micros("ts")).alias("micros_until"),
    )


@register(
    "q125_asof_nearest",
    """
    WITH e AS (SELECT * FROM events WHERE event_type = 'error'),
    c AS (SELECT * FROM events WHERE event_type = 'click'),
    b AS (
      SELECT e.event_id, e.user_id, e.ts, e.value,
             c.ts AS b_ts, c.value AS b_value
      FROM e ASOF LEFT JOIN c ON e.user_id = c.user_id AND e.ts >= c.ts
    ),
    f AS (
      SELECT e.event_id, c.ts AS f_ts, c.value AS f_value
      FROM e ASOF LEFT JOIN c ON e.user_id = c.user_id AND e.ts <= c.ts
    )
    SELECT b.event_id, b.user_id, b.value,
           CASE WHEN b.b_ts IS NOT NULL AND (f.f_ts IS NULL
                      OR epoch_us(b.ts) - epoch_us(b.b_ts)
                         <= epoch_us(f.f_ts) - epoch_us(b.ts))
                THEN b.b_value ELSE f.f_value END AS near_click_value,
           CASE WHEN b.b_ts IS NOT NULL AND (f.f_ts IS NULL
                      OR epoch_us(b.ts) - epoch_us(b.b_ts)
                         <= epoch_us(f.f_ts) - epoch_us(b.ts))
                THEN epoch_us(b.ts) - epoch_us(b.b_ts)
                ELSE epoch_us(f.f_ts) - epoch_us(b.ts) END AS micros_away
    FROM b JOIN f ON b.event_id = f.event_id
    WHERE b.b_ts IS NOT NULL OR f.f_ts IS NOT NULL
    """,
)
def q125_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join: each error picks up the user's click
    CLOSEST in time, ties resolved backward
    (operators/temporal.asof_join direction='nearest' — both window
    arms over ONE tagged union and one shuffle; the oracle needs two
    ASOF joins plus a CASE to express the same)."""
    from patientdataintegration_spark.operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    j = asof_join(
        errors, clicks, on=["user_id"], payload=["value"], how="inner",
        direction="nearest",
    )
    near_us = F.unix_micros("asof_ts")
    this_us = F.unix_micros("ts")
    return j.select(
        "event_id",
        "user_id",
        "value",
        F.col("asof_value").alias("near_click_value"),
        F.when(near_us <= this_us, this_us - near_us)
        .otherwise(near_us - this_us)
        .alias("micros_away"),
    )


# --- sparse tf-idf cosine similarity join -----------------------------------


@register(
    "q126_sparse_cosine_pairs",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks
      WHERE term <> '' GROUP BY doc_id, term
    ),
    dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
      HAVING COUNT(*) BETWEEN 2 AND 64
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    w AS (
      SELECT tf.doc_id, tf.term,
             ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 9) AS w
      FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
    ),
    norms AS (
      SELECT doc_id, SUM(CAST(w*w AS DECIMAL(30,15))) AS norm2
      FROM w GROUP BY doc_id
    ),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             SUM(CAST(a.w * b.w AS DECIMAL(30,15))) AS dot
      FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    sims AS (
      SELECT d.doc_a, d.doc_b,
             ROUND(CAST(d.dot AS DOUBLE)
                   / (sqrt(CAST(na.norm2 AS DOUBLE))
                      * sqrt(CAST(nb.norm2 AS DOUBLE))), 6) AS cos_sim
      FROM dots d
      JOIN norms na ON d.doc_a = na.doc_id
      JOIN norms nb ON d.doc_b = nb.doc_id
    )
    SELECT doc_a, doc_b, cos_sim FROM sims WHERE cos_sim >= 0.3
    """,
)
def q126_sparse_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs tf-idf cosine similarity >= 0.3 via the
    term-partitioned sparse dot-product join
    (`textops.sparse_cosine_pairs`): pairs form only through shared
    terms, df-pruned to [2, 64] — never a doc x doc cross product.
    The df cap bounds per-term fan-out at df^2 partials, the same
    scale guard as the shingle cap in n-gram dedup; decimal partial
    sums keep the dot order-independent and engine-exact."""
    from patientdataintegration_spark.operators.textops import sparse_cosine_pairs

    d = load_table(spark, sf_dir, "documents")
    return sparse_cosine_pairs(d, min_sim=0.3, min_df=2, max_df=64)


# --- deterministic weighted sampling ----------------------------------------


def _q127_sql() -> str:
    from patientdataintegration_spark.functions.deterministic import pseudo_random_sql

    pr = pseudo_random_sql("doc_id", seed=42)
    return f"""
    WITH scored AS (
      SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS weight,
             ROUND(-ln(({pr} + 1) / 1000000008.0)
                   / CAST(n_chars AS DOUBLE), 12) AS prio
      FROM documents WHERE n_chars > 0
    ),
    r AS (
      SELECT lang, doc_id, weight,
             CAST(row_number() OVER (PARTITION BY lang
                                     ORDER BY prio ASC, doc_id ASC) AS BIGINT) AS rnk
      FROM scored
    )
    SELECT lang, doc_id, weight, rnk FROM r WHERE rnk <= 5
    """


@register("q127_weighted_sample", _q127_sql())
def q127_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (5 docs per
    language, weight = n_chars) via the Efraimidis-Spirakis A-ES
    priority -ln(u)/w over the engine-portable pseudo-random draw
    (`sampling.weighted_sample_per_group`). One shuffle on the group
    key; identical results for any partitioning or engine."""
    from patientdataintegration_spark.operators.sampling import (
        weighted_sample_per_group,
    )

    d = load_table(spark, sf_dir, "documents")
    return weighted_sample_per_group(
        d, n=5, weight_col="n_chars", group_col="lang", id_col="doc_id", seed=42
    )


# --- SCD2 history build / robust stats / PageRank ---------------------------


@register(
    "q128_scd2_history",
    """
    SELECT user_id,
           CAST(row_number() OVER w AS BIGINT) AS version,
           value,
           epoch_us(ts) AS valid_from_us,
           lead(epoch_us(ts)) OVER w AS valid_to_us
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q128_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD history from a change stream
    (`temporal.scd2_intervals`): one lead window per key — each
    observation's validity runs to the next observation, latest is
    open-ended. No self-join, no range join."""
    from patientdataintegration_spark.operators.temporal import scd2_intervals

    e = load_table(spark, sf_dir, "events")
    return scd2_intervals(e)


@register(
    "q129_robust_stats",
    """
    WITH med AS (
      SELECT l_returnflag,
             CAST(quantile_cont(CAST(l_quantity AS DOUBLE), 0.5) AS DOUBLE) AS med
      FROM lineitem GROUP BY l_returnflag
    ),
    dev AS (
      SELECT li.l_returnflag, med.med,
             abs(CAST(li.l_quantity AS DOUBLE) - med.med) AS adev
      FROM lineitem li JOIN med ON li.l_returnflag = med.l_returnflag
    )
    SELECT l_returnflag,
           CAST(MAX(med) AS DOUBLE) AS med,
           CAST(quantile_cont(adev, 0.5) AS DOUBLE) AS mad
    FROM dev GROUP BY l_returnflag
    """,
)
def q129_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group statistics: exact median + median absolute
    deviation. Two grouped exact-percentile aggregations with the
    group medians joined back between them (broadcast — one row per
    flag); l_quantity is integer-valued so every interpolation and
    abs-difference is FP-exact cross-engine. The 100 TB variant
    swaps `percentile` for the mergeable `approx_percentile` KLL
    sketch at both steps."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("double")
    med = li.groupBy("l_returnflag").agg(
        F.percentile(q, F.lit(0.5)).alias("med")
    )
    dev = li.join(F.broadcast(med), "l_returnflag").select(
        "l_returnflag",
        "med",
        F.abs(q - F.col("med")).alias("adev"),
    )
    return dev.groupBy("l_returnflag").agg(
        F.max("med").alias("med"),
        F.percentile(F.col("adev"), F.lit(0.5)).alias("mad"),
    )


def _q130_sql(iterations: int = 3) -> str:
    pairs = _lsh_pairs_sql()
    # (1.0 - 0.85) spelled as the SUBTRACTION in both engines so the
    # IEEE double (0.15000000000000002) matches bit-for-bit
    cte = f"""
    WITH pairs AS ({pairs}),
    edges AS (
      SELECT doc_a AS s, doc_b AS t FROM pairs
      UNION ALL
      SELECT doc_b AS s, doc_a AS t FROM pairs
    ),
    deg AS (SELECT s, COUNT(*) AS deg FROM edges GROUP BY s),
    nodes AS (SELECT DISTINCT s FROM edges),
    n AS (SELECT COUNT(*) AS n FROM nodes),
    r0 AS (SELECT nodes.s, 1.0 / n.n AS r FROM nodes CROSS JOIN n)"""
    prev = "r0"
    for i in range(1, iterations + 1):
        cte += f""",
    r{i} AS (
      SELECT nodes.s,
             (1.0 - 0.85) / MAX(n.n) + 0.85 * CAST(
               COALESCE(SUM(CAST({prev}.r / deg.deg AS DECIMAL(38,18))),
                        CAST(0 AS DECIMAL(38,18))) AS DOUBLE) AS r
      FROM nodes CROSS JOIN n
      LEFT JOIN edges ON edges.t = nodes.s
      LEFT JOIN {prev} ON {prev}.s = edges.s
      LEFT JOIN deg ON deg.s = edges.s
      GROUP BY nodes.s
    )"""
        prev = f"r{i}"
    return cte + f"""
    SELECT s AS node, ROUND(r, 9) AS rank FROM {prev}
    """


@register("q130_pagerank", _q130_sql())
def q130_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (3 rounds, d=0.85) over the MinHash-
    LSH candidate near-dup graph (`operators/graph.pagerank`): each
    iteration is one edges-ranks join + one destination aggregation —
    the iterative-algorithm-as-dataflow shape, K shuffles for K
    rounds. The edge relation (the expensive shingle→minhash→LSH
    upstream) comes from `cached_lsh_pairs` — parquet-materialized
    once per documents CONTENT and shared with q92/q138/q190 — so
    each iteration re-scans cheap parquet; without that, every
    iteration re-executes the whole upstream (measured 4.7 s vs
    2.4 s warm at sf0.1, 133 vs ~20 shuffle boundaries; at 100 TB
    the upstream dominates and K re-runs of it is the scale-killer —
    the r3 verdict's perf-weak flag). Values are bit-identical
    either way (parquet round-trips doubles exactly; pinned by the
    operator's accumulator test). The oracle unrolls the same three
    iterations as CTEs; decimal contribution sums make ranks
    bit-identical across engines."""
    from patientdataintegration_spark.operators.graph import pagerank

    return pagerank(
        cached_lsh_pairs(spark, sf_dir),
        iterations=3,
        damping=0.85,
    )


# --- paragraph-level dedup signals ------------------------------------------


@register(
    "q131_paragraph_dedup",
    """
    WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS tk FROM documents),
    c AS (
      SELECT doc_id, tk,
             unnest(range(0,
               CAST(FLOOR((GREATEST(len(tk), 1) - 1) / 32) AS BIGINT) + 1)) AS chunk_id
      FROM t
    ),
    p AS (
      SELECT doc_id,
             md5(array_to_string(list_slice(tk, chunk_id * 32 + 1,
                                            chunk_id * 32 + 32), ' ')) AS h
      FROM c
    ),
    f AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM p GROUP BY h)
    SELECT doc_id,
           COUNT(*) AS n_paras,
           CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_paras,
           ROUND(CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS dup_ratio
    FROM p JOIN f USING (h)
    GROUP BY doc_id
    """,
)
def q131_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level duplication signals (32-token paragraphs,
    cross-document md5 frequency — `textops.paragraph_dedup_stats`):
    the boilerplate-removal signal of a web-corpus pipeline. One
    paragraph fanout scan, one fingerprint shuffle, one join-back."""
    from patientdataintegration_spark.operators.textops import paragraph_dedup_stats

    d = load_table(spark, sf_dir, "documents")
    return paragraph_dedup_stats(d, para_tokens=32)


# --- deterministic k-means clustering ---------------------------------------


def _q132_sql(k: int = 8, iterations: int = 2, dim: int = 64) -> str:
    dist = _SQDIST_REDUCE.format(a="e.embedding", b="c.cv")
    ctes, prev = _kmeans_cte_sql(k, iterations, dim)
    return f"""
    WITH {ctes},
    fin AS (
      SELECT e.vec_id, c.c,
             {dist} AS dist,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {dist} ASC, c.c ASC) AS rn
      FROM embeddings e CROSS JOIN {prev} c
    )
    SELECT vec_id, c AS cluster, ROUND(dist, 6) AS sq_dist
    FROM fin WHERE rn = 1
    """


@register("q132_kmeans_assign", _q132_sql())
def q132_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd's k-means (k=8, 2 rounds + final assign)
    over the embeddings table (`operators/clustering.kmeans_assign`)
    — the semantic-clustering stage (cluster-then-canonicalize dedup,
    IVF cell training). Centroid frames are k rows and ALWAYS
    broadcast; per-dimension means route their sums through
    DECIMAL(38,15) so centroids — and every downstream distance —
    are bit-identical across engines, letting the oracle unroll the
    same iterations as CTEs."""
    from patientdataintegration_spark.operators.clustering import kmeans_assign

    e = load_table(spark, sf_dir, "embeddings")
    return kmeans_assign(e, k=8, iterations=2)


# --- EWMA smoothing / source KL divergence ----------------------------------


@register(
    "q133_ewma",
    """
    WITH w AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
             list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN 31 PRECEDING AND CURRENT ROW) AS vals
      FROM events
    )
    SELECT user_id, event_id, ts_us,
           ROUND(list_reduce(vals, (acc, x) -> (x + 2.0 * acc) / 3.0), 6) + 0.0 AS ewma
    FROM w
    """,
)
def q133_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average per key (alpha = 1/3)
    over a BOUNDED 32-row window: the trailing values are gathered by
    the frame (one shuffle on the key, sorted once) and smoothed with
    a sequential left fold — O(32) per row, never a per-row rescan.
    The unbounded-recursion EWMA is not window-expressible without
    pow() under/overflow at scale; the bounded form is the production
    spelling (the tail weight (2/3)^32 ~ 2e-6 is negligible).

    Alpha = 1/3 — spelled (x + 2*acc)/3 — is a cross-engine-rounding
    requirement, not a tuning choice: finite-decimal weights
    (0.25/0.75, 0.3/0.7) over the finite-decimal input values produce
    EWMAs that land EXACTLY on decimal halfway points, where Spark
    (exact BigDecimal rounding of the double) and DuckDB (scale-by-
    1e^d double rounding) disagree — observed live at both alphas
    (…4375 → 437 vs 438; 6 rows in 100k at sf0.1). Division by 3
    makes every result's decimal expansion infinite, so no value can
    sit exactly on a rounding boundary, and the residual 1-ulp
    near-boundary probability at 6 digits is ~1e-8 per row."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-31, Window.currentRow)
    )
    vals = F.collect_list("value").over(w)
    ewma = F.aggregate(
        F.slice(vals, 2, 32),
        F.element_at(vals, 1),
        lambda acc, x: (x + F.lit(2.0) * acc) / F.lit(3.0),
    )
    return e.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        # + 0.0 normalizes IEEE -0.0 (inputs are non-negative here,
        # but the fold is reusable on signed series)
        (F.round(ewma, 6) + F.lit(0.0)).alias("ewma"),
    )


@register(
    "q134_source_kl",
    """
    WITH toks AS (
      SELECT source, unnest(string_split(lower(trim(text)), ' ')) AS tok
      FROM documents
    ),
    sc AS (SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY source, tok),
    st AS (SELECT source, SUM(c) AS t FROM sc GROUP BY source),
    gc AS (SELECT tok, SUM(c) AS c FROM sc GROUP BY tok),
    gt AS (SELECT SUM(c) AS t FROM gc)
    SELECT sc.source,
           CAST(st.t AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(CAST(ROUND(
             (sc.c / st.t) * ln((sc.c / st.t) / (gc.c / gt.t)), 9)
             AS DECIMAL(28,12))) AS DOUBLE), 9) + 0.0 AS kl_bits
    FROM sc
    JOIN st ON sc.source = st.source
    JOIN gc ON sc.tok = gc.tok
    CROSS JOIN gt
    GROUP BY sc.source, st.t
    """,
)
def q134_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL divergence of each source's token distribution from the
    corpus distribution — the drift/mixture-diagnostic a data
    pipeline runs per ingestion source. Each token's contribution
    p*ln(p/q) is deterministic double arithmetic rounded to 9
    digits, then summed as DECIMAL (order-independent) — the q82
    exactness pattern. Two shuffles: (source, token) counts, then the
    token-global roll-up joined back (token side partial-aggregated
    map-side)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.explode(tokens(F.lower(F.trim(F.col("text"))))).alias("tok"),
    )
    sc = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    st = sc.groupBy("source").agg(F.sum("c").alias("t"))
    gc = sc.groupBy("tok").agg(F.sum("c").alias("c_g"))
    gt = gc.agg(F.sum("c_g").alias("t_g"))
    p = F.col("c").cast("double") / F.col("t").cast("double")
    q = F.col("c_g").cast("double") / F.col("t_g").cast("double")
    term = F.round(p * F.log(p / q), 9).cast("decimal(28,12)")
    return (
        sc.join(F.broadcast(st), "source")
        .join(gc, "tok")
        .crossJoin(F.broadcast(gt))
        .groupBy("source", "t")
        # + 0.0 normalizes IEEE negative zero after rounding
        .agg((F.round(F.sum(term).cast("double"), 9) + F.lit(0.0)).alias("kl_bits"))
        .select(
            "source",
            F.col("t").cast("bigint").alias("n_tokens"),
            "kl_bits",
        )
    )


# --- sessionized funnel / growth accounting ---------------------------------


@register(
    "q135_session_funnel",
    """
    WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
    l AS (
      SELECT user_id, event_id, event_type, us,
             lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us
      FROM e
    ),
    t AS (
      SELECT user_id, event_id, event_type, us,
             CASE WHEN prev_us IS NULL OR us - prev_us > 43200000000 THEN 1 ELSE 0 END AS new_s
      FROM l
    ),
    s AS (
      SELECT user_id, event_type, us,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM t
    ),
    per_session AS (
      SELECT user_id, sid,
             MIN(CASE WHEN event_type = 'view' THEN us END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN us END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN us END) AS t_buy
      FROM s GROUP BY user_id, sid
    )
    SELECT COUNT(*) AS n_sessions,
           CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS s_view,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                    THEN 1 ELSE 0 END) AS BIGINT) AS s_click,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                     AND t_buy > t_click THEN 1 ELSE 0 END) AS BIGINT) AS s_buy
    FROM per_session
    """,
)
def q135_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-session ordered funnel (view → click → purchase inside
    one 12 h-gap session): the q42 session tagging and the q74
    conditional-min funnel composed into ONE windowed pass + one
    aggregation — no joins. The scalable spelling of 'conversion
    within a visit'."""
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy(us, "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = 43_200_000_000
    new_s = (
        F.when(
            F.lag(us).over(w).isNull() | ((us - F.lag(us).over(w)) > gap_us), 1
        ).otherwise(0)
    )
    tagged = e.select(
        "user_id",
        "event_type",
        us.alias("us"),
        F.sum(new_s).over(run).alias("sid"),
    )

    def first_us(t):
        return F.min(F.when(F.col("event_type") == t, F.col("us")))

    per_session = tagged.groupBy("user_id", "sid").agg(
        first_us("view").alias("t_view"),
        first_us("click").alias("t_click"),
        first_us("purchase").alias("t_buy"),
    )
    did_view = F.col("t_view").isNotNull()
    did_click = did_view & (F.col("t_click") > F.col("t_view"))
    did_buy = did_click & (F.col("t_buy") > F.col("t_click"))
    return per_session.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(did_view.cast("int")).cast("bigint").alias("s_view"),
        F.sum(did_click.cast("int")).cast("bigint").alias("s_click"),
        F.sum(did_buy.cast("int")).cast("bigint").alias("s_buy"),
    )


@register(
    "q136_growth_accounting",
    """
    WITH wk AS (
      SELECT DISTINCT user_id,
             CAST(FLOOR(epoch_us(ts) / 604800000000) AS BIGINT) AS week_n
      FROM events
    ),
    tagged AS (
      SELECT user_id, week_n,
             lag(week_n) OVER (PARTITION BY user_id ORDER BY week_n) AS prev_wk
      FROM wk
    )
    SELECT week_n,
           CAST(SUM(CASE WHEN prev_wk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
           CAST(SUM(CASE WHEN prev_wk = week_n - 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
           CAST(SUM(CASE WHEN prev_wk IS NOT NULL AND prev_wk < week_n - 1
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
    FROM tagged GROUP BY week_n
    """,
)
def q136_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting (new / retained / resurrected) — the
    standard activity-ledger classification: distinct (user, week)
    activity, one lag window per user, one aggregation. Weeks are
    pure integer epoch-week indices (epoch_us DIV 7 days) so the
    bucketing is engine-portable with no calendar semantics."""
    e = load_table(spark, sf_dir, "events")
    week_us = 604_800_000_000
    wk = e.select(
        "user_id",
        F.floor(F.unix_micros("ts") / F.lit(week_us)).cast("bigint").alias("week_n"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("week_n")
    tagged = wk.select("user_id", "week_n", F.lag("week_n").over(w).alias("prev_wk"))
    # three-valued logic: `prev_wk == x` is NULL (not false) when
    # prev_wk is NULL, and a SUM over all-NULLs is NULL — spell each
    # class as WHEN/OTHERWISE 0 exactly like the oracle's CASE
    is_new = F.when(F.col("prev_wk").isNull(), 1).otherwise(0)
    is_ret = F.when(F.col("prev_wk") == F.col("week_n") - 1, 1).otherwise(0)
    is_res = F.when(
        F.col("prev_wk").isNotNull() & (F.col("prev_wk") < F.col("week_n") - 1), 1
    ).otherwise(0)
    return tagged.groupBy("week_n").agg(
        F.sum(is_new).cast("bigint").alias("n_new"),
        F.sum(is_ret).cast("bigint").alias("n_retained"),
        F.sum(is_res).cast("bigint").alias("n_resurrected"),
    )


# --- blocked fuzzy (edit-distance) join -------------------------------------


@register(
    "q137_fuzzy_join",
    """
    WITH names AS (SELECT DISTINCT p_name AS name FROM part),
    blocked AS (
      SELECT name, split_part(name, ' ', -1) AS blk FROM names
    )
    SELECT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS INTEGER) AS distance
    FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.name < b.name
    WHERE levenshtein(a.name, b.name) <= 4
    """,
)
def q137_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance join over part names
    (`dedup.fuzzy_name_pairs`): distinct-first (edit distance is a
    string property, so the join runs over the value table, not the
    fact table), then per-block candidate pairs (last name token),
    then levenshtein <= 4 — the entity-resolution shape that never
    goes quadratic corpus-wide."""
    from patientdataintegration_spark.operators.dedup import fuzzy_name_pairs

    p = load_table(spark, sf_dir, "part")
    return fuzzy_name_pairs(p, name_col="p_name", max_distance=4)


# --- recursive CTE reachability ---------------------------------------------


def _q138_reach_ctes(pairs_rel: str) -> str:
    """The shared reachability CTE list (goes after WITH RECURSIVE):
    seeds = every 5th doc, BFS over the undirected near-dup graph,
    hop cap 3. `pairs_rel` is the relation holding (doc_a, doc_b)."""
    return f"""edges AS (
      SELECT doc_a AS s, doc_b AS t FROM {pairs_rel}
      UNION ALL
      SELECT doc_b AS s, doc_a AS t FROM {pairs_rel}
    ),
    reach(node, hops) AS (
      SELECT DISTINCT s AS node, 0 AS hops FROM edges WHERE s % 5 = 0
      UNION ALL
      SELECT e.t AS node, r.hops + 1 AS hops
      FROM reach r JOIN edges e ON e.s = r.node
      WHERE r.hops < 3
    )"""


_Q138_SELECT = """
    SELECT node, CAST(MIN(hops) AS BIGINT) AS min_hops
    FROM reach GROUP BY node
    """


@register(
    "q138_reachability",
    f"WITH RECURSIVE pairs AS ({_lsh_pairs_sql()}),\n"
    f"{_q138_reach_ctes('pairs')}{_Q138_SELECT}",
)
def q138_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded BFS reachability via Spark 4's RECURSIVE CTE: min hop
    count from the seed set (every 5th doc) over the MinHash-LSH
    near-dup graph, hop cap 3. Spark and DuckDB execute the SAME
    recursive SQL text — the SQL-native spelling of bounded graph
    traversal (each recursion step is one join + union under the
    hood). For unbounded convergence at scale the large/small-star
    operator (q115) remains the right tool; a recursion depth cap
    is what keeps the recursive spelling shuffle-bounded.

    The edge relation is parquet-MATERIALIZED once per corpus (same
    _SUCCESS-reuse discipline as q130): each recursion step joins
    `reach` against the pairs view, and a view over the raw
    shingle->minhash->LSH plan re-executes that whole upstream per
    hop — measured at sf0.1: unmaterialized ~10.5 s cold / ~3.9 s
    warm; materialized ~9.1 s on the run that PAYS the one-time
    edge write, then ~1.3 s every run after (3x warm win); values
    identical (parquet round-trips the id/sim columns exactly)."""
    cached_lsh_pairs(spark, sf_dir).createOrReplaceTempView("q138_pairs")
    return spark.sql(
        f"WITH RECURSIVE {_q138_reach_ctes('q138_pairs')}{_Q138_SELECT}"
    )


# --- single-pass correlation matrix -----------------------------------------

_Q139_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _q139_sql() -> str:
    sums = ["COUNT(*) AS n"]
    for c in _Q139_COLS:
        sums.append(f"SUM(CAST(CAST({c} AS DOUBLE) AS DECIMAL(38,6))) AS s_{c}")
        sums.append(
            f"SUM(CAST(CAST({c} AS DOUBLE) * CAST({c} AS DOUBLE)"
            f" AS DECIMAL(38,6))) AS ss_{c}"
        )
    for i, a in enumerate(_Q139_COLS):
        for b in _Q139_COLS[i + 1 :]:
            sums.append(
                f"SUM(CAST(CAST({a} AS DOUBLE) * CAST({b} AS DOUBLE)"
                f" AS DECIMAL(38,6))) AS sp_{a}_{b}"
            )
    pair_rows = []
    for i, a in enumerate(_Q139_COLS):
        for b in _Q139_COLS[i + 1 :]:
            num = f"(CAST(sp_{a}_{b} AS DOUBLE) - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE) / n)"
            da = f"(CAST(ss_{a} AS DOUBLE) - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE) / n)"
            db = f"(CAST(ss_{b} AS DOUBLE) - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE) / n)"
            pair_rows.append(
                f"SELECT '{a}' AS col_a, '{b}' AS col_b,"
                f" ROUND({num} / sqrt({da} * {db}), 6) + 0.0 AS corr FROM agg"
            )
    return "WITH agg AS (SELECT " + ", ".join(sums) + " FROM lineitem)\n" + "\nUNION ALL ".join(pair_rows)


@register("q139_correlation_matrix", _q139_sql())
def q139_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation across the numeric lineitem
    columns in ONE scan + one single-row aggregate: all sums
    (Σx, Σx², Σxy per pair) accumulate as DECIMAL(38,6) — exact and
    order-independent — then each pair's correlation is deterministic
    double arithmetic off the one aggregate row. The feature-
    engineering staple spelled without per-pair passes: 4 columns =
    15 decimal sums, one shuffle of ONE row. (`F.corr` exists but
    accumulates in FP — partitioning-dependent and not
    oracle-matchable.)"""
    li = load_table(spark, sf_dir, "lineitem")

    def dec(col_expr):
        return col_expr.cast("decimal(38,6)")

    aggs = [F.count(F.lit(1)).alias("n")]
    for c in _Q139_COLS:
        x = F.col(c).cast("double")
        aggs.append(F.sum(dec(x)).alias(f"s_{c}"))
        aggs.append(F.sum(dec(x * x)).alias(f"ss_{c}"))
    for i, a in enumerate(_Q139_COLS):
        for b in _Q139_COLS[i + 1 :]:
            aggs.append(
                F.sum(
                    dec(F.col(a).cast("double") * F.col(b).cast("double"))
                ).alias(f"sp_{a}_{b}")
            )
    agg = li.agg(*aggs)
    # all 6 correlations as columns of the ONE aggregate row, then a
    # stack() unpivot to rows — a union of per-pair selects would
    # recompute the full-scan aggregate once per pair
    corr_cols = []
    stack_args = []
    for i, a in enumerate(_Q139_COLS):
        for b in _Q139_COLS[i + 1 :]:
            n = F.col("n").cast("double")
            sa = F.col(f"s_{a}").cast("double")
            sb = F.col(f"s_{b}").cast("double")
            num = F.col(f"sp_{a}_{b}").cast("double") - sa * sb / n
            da = F.col(f"ss_{a}").cast("double") - sa * sa / n
            db = F.col(f"ss_{b}").cast("double") - sb * sb / n
            # + 0.0 normalizes IEEE negative zero after rounding
            corr_cols.append(
                (F.round(num / F.sqrt(da * db), 6) + F.lit(0.0)).alias(f"c_{a}_{b}")
            )
            stack_args.append(f"'{a}', '{b}', c_{a}_{b}")
    one = agg.select(*corr_cols)
    n_pairs = len(corr_cols)
    return one.selectExpr(
        f"stack({n_pairs}, {', '.join(stack_args)}) AS (col_a, col_b, corr)"
    )


# --- categorical mutual information -----------------------------------------


@register(
    "q140_mutual_information",
    """
    WITH joint AS (
      SELECT lang, source, COUNT(*) AS c FROM documents GROUP BY lang, source
    ),
    ml AS (SELECT lang, SUM(c) AS cl FROM joint GROUP BY lang),
    ms AS (SELECT source, SUM(c) AS cs FROM joint GROUP BY source),
    n AS (SELECT SUM(c) AS t FROM joint)
    SELECT CAST(n.t AS BIGINT) AS n_docs,
           ROUND(CAST(SUM(CAST(ROUND(
             (j.c / n.t) * ln((j.c * n.t) / (CAST(ml.cl AS DOUBLE) * ms.cs)), 9)
             AS DECIMAL(28,12))) AS DOUBLE), 9) + 0.0 AS mi_nats
    FROM joint j
    JOIN ml ON j.lang = ml.lang
    JOIN ms ON j.source = ms.source
    CROSS JOIN n
    GROUP BY n.t
    """,
)
def q140_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(lang; source) over the documents table —
    the dependence diagnostic a pipeline runs between metadata
    dimensions (is language confounded with ingestion source?). One
    (lang, source) contingency aggregation; the marginals re-roll the
    joint (tiny frames, broadcast); each cell's p·ln term rounds to 9
    digits then decimal-sums — the q82/q134 exactness pattern."""
    d = load_table(spark, sf_dir, "documents")
    joint = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("c"))
    ml = joint.groupBy("lang").agg(F.sum("c").alias("cl"))
    ms = joint.groupBy("source").agg(F.sum("c").alias("cs"))
    n = joint.agg(F.sum("c").alias("t"))
    term = F.round(
        (F.col("c").cast("double") / F.col("t").cast("double"))
        * F.log(
            (F.col("c").cast("double") * F.col("t").cast("double"))
            / (F.col("cl").cast("double") * F.col("cs").cast("double"))
        ),
        9,
    ).cast("decimal(28,12)")
    return (
        joint.join(F.broadcast(ml), "lang")
        .join(F.broadcast(ms), "source")
        .crossJoin(F.broadcast(n))
        .groupBy("t")
        # + 0.0 normalizes IEEE negative zero after rounding
        .agg((F.round(F.sum(term).cast("double"), 9) + F.lit(0.0)).alias("mi_nats"))
        .select(F.col("t").cast("bigint").alias("n_docs"), "mi_nats")
    )


# --- per-group OLS trend ----------------------------------------------------


@register(
    "q141_group_trend",
    """
    WITH base AS (
      SELECT user_id, value,
             (epoch_us(ts) - MIN(epoch_us(ts)) OVER (PARTITION BY user_id))
               / 1000000.0 AS x
      FROM events
    ),
    sums AS (
      SELECT user_id,
             COUNT(*) AS n,
             SUM(CAST(x AS DECIMAL(38,6))) AS sx,
             SUM(CAST(x * x AS DECIMAL(38,6))) AS sxx,
             SUM(CAST(value AS DECIMAL(38,6))) AS sy,
             SUM(CAST(x * value AS DECIMAL(38,6))) AS sxy
      FROM base GROUP BY user_id
    )
    -- + 0.0 after ROUND: IEEE -0.0 + 0.0 = +0.0, so a rounded
    -- difference-of-sums can never stringify as '-0.0' on one engine
    SELECT user_id, CAST(n AS BIGINT) AS n_obs,
           ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
                 6) + 0.0 AS slope,
           ROUND((CAST(sy AS DOUBLE) - ((n * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                   * CAST(sx AS DOUBLE)) / n, 6) + 0.0 AS intercept
    FROM sums
    WHERE n >= 2 AND n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
    """,
)
def q141_group_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS trend of value over time (slope per second +
    intercept) from exact decimal sums — the grouped linear-trend
    feature (drift per entity). x is CENTERED per group (micros minus
    the group minimum, a window min on the same partitioning as the
    aggregate — no extra shuffle) so the nΣx²−(Σx)² difference never
    cancels catastrophically the way absolute epoch x would; sums
    accumulate in DECIMAL(38,6), the closed-form solution is
    deterministic double arithmetic."""
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    w = Window.partitionBy("user_id")
    x = (us - F.min(us).over(w)).cast("double") / F.lit(1_000_000.0)
    base = e.select("user_id", F.col("value"), x.alias("x"))

    def dec(c):
        return c.cast("decimal(38,6)")

    sums = base.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("x"))).alias("sx"),
        F.sum(dec(F.col("x") * F.col("x"))).alias("sxx"),
        F.sum(dec(F.col("value"))).alias("sy"),
        F.sum(dec(F.col("x") * F.col("value"))).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    denom = n * sxx - sx * sx
    slope = (n * sxy - sx * sy) / denom
    intercept = (sy - slope * sx) / n
    return (
        sums.filter((F.col("n") >= 2) & (denom > 0))
        .select(
            "user_id",
            F.col("n").cast("bigint").alias("n_obs"),
            # + 0.0 normalizes IEEE negative zero after rounding
            (F.round(slope, 6) + F.lit(0.0)).alias("slope"),
            (F.round(intercept, 6) + F.lit(0.0)).alias("intercept"),
        )
    )


# --- dedup impact report ----------------------------------------------------


@register(
    "q142_dedup_impact",
    f"""
    WITH comp AS ({_q115_sql()}),
    sizes AS (SELECT label, COUNT(*) AS sz FROM comp GROUP BY label)
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           COUNT(*) AS n_clusters,
           CAST(SUM(sz) AS BIGINT) AS n_docs,
           CAST(SUM(sz - 1) AS BIGINT) AS n_removable
    FROM sizes GROUP BY sz
    """,
)
def q142_dedup_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup impact report: the cluster-size histogram over the
    near-dup components, with the removable-duplicate count per size
    (size − 1 docs per cluster survive canonicalization) — the
    number a pipeline reports before committing a dedup pass. Two
    tiny aggregations on top of the q115 component labels; the
    oracle rolls the same histogram off the recursive-CTE closure."""
    from patientdataintegration_spark.operators.dedup import (
        connected_components_star,
        lsh_candidate_pairs,
    )

    d = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(shingle_table(d), k=8, seed=42)
    pairs = lsh_candidate_pairs(sigs, bands=4, rows_per_band=2)
    comp = connected_components_star(pairs)
    sizes = comp.groupBy("label").agg(F.count(F.lit(1)).alias("sz"))
    return sizes.groupBy("sz").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("sz").cast("bigint").alias("n_docs"),
        F.sum(F.col("sz") - 1).cast("bigint").alias("n_removable"),
    ).select(
        F.col("sz").cast("bigint").alias("cluster_size"),
        "n_clusters",
        "n_docs",
        "n_removable",
    )


# --- equi-width histogram / event co-occurrence PMI -------------------------


@register(
    "q143_histogram",
    """
    WITH b AS (
      SELECT MIN(CAST(l_extendedprice AS DOUBLE)) AS lo,
             MAX(CAST(l_extendedprice AS DOUBLE)) AS hi
      FROM lineitem
    )
    SELECT CASE WHEN b.hi = b.lo THEN CAST(0 AS BIGINT)
                ELSE LEAST(CAST(FLOOR((CAST(l_extendedprice AS DOUBLE) - b.lo)
                             / (b.hi - b.lo) * 16) AS BIGINT), 15) END AS bin,
           COUNT(*) AS n,
           ROUND(MIN(CAST(l_extendedprice AS DOUBLE)), 2) AS bin_min,
           ROUND(MAX(CAST(l_extendedprice AS DOUBLE)), 2) AS bin_max
    FROM lineitem CROSS JOIN b
    GROUP BY 1
    """,
)
def q143_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 16-bin histogram of a numeric column — the classic
    profiling visualization's data. Global min/max is a broadcast
    1-row aggregate (the q08 scale01 pattern); the bin index is
    deterministic double arithmetic floored to an integer, with the
    max value folded into the last bin. One scan + one tiny agg +
    one grouped count."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice").cast("double")
    b = li.agg(F.min(x).alias("lo"), F.max(x).alias("hi"))
    # hi == lo (constant column / empty table) would divide by zero:
    # Spark yields NULL/NaN while DuckDB yields inf — guard to a
    # single bin 0 on both engines instead
    binc = F.when(F.col("hi") == F.col("lo"), F.lit(0).cast("bigint")).otherwise(
        F.least(
            F.floor((x - F.col("lo")) / (F.col("hi") - F.col("lo")) * 16).cast(
                "bigint"
            ),
            F.lit(15),
        )
    )
    return (
        li.crossJoin(F.broadcast(b))
        .groupBy(binc.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min(x), 2).alias("bin_min"),
            F.round(F.max(x), 2).alias("bin_max"),
        )
    )


@register(
    "q144_event_pmi",
    """
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    n AS (SELECT COUNT(DISTINCT user_id) AS nu FROM events),
    m AS (SELECT event_type, COUNT(*) AS c FROM ut GROUP BY event_type),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS cab
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type
    )
    SELECT p.type_a, p.type_b,
           CAST(p.cab AS BIGINT) AS n_users_both,
           ROUND(ln((CAST(p.cab AS DOUBLE) * n.nu)
                    / (CAST(ma.c AS DOUBLE) * mb.c)), 9) AS pmi_nats
    FROM pairs p
    JOIN m ma ON p.type_a = ma.event_type
    JOIN m mb ON p.type_b = mb.event_type
    CROSS JOIN n
    """,
)
def q144_event_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information between event types over users —
    association-mining lite (which behaviors co-occur beyond
    chance?). The pair space is (distinct types)² — bounded and tiny
    — while users shuffle once for the distinct (user, type)
    projection; the per-user self-join fans out at most
    |types|² rows per user. Marginals broadcast."""
    e = load_table(spark, sf_dir, "events")
    ut = e.select("user_id", "event_type").distinct()
    n = e.agg(F.count_distinct("user_id").alias("nu"))
    m = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("cab"))
    )
    ma = m.select(F.col("event_type").alias("type_a"), F.col("c").alias("ca"))
    mb = m.select(F.col("event_type").alias("type_b"), F.col("c").alias("cb"))
    return (
        pairs.join(F.broadcast(ma), "type_a")
        .join(F.broadcast(mb), "type_b")
        .crossJoin(F.broadcast(n))
        .select(
            "type_a",
            "type_b",
            F.col("cab").cast("bigint").alias("n_users_both"),
            F.round(
                F.log(
                    (F.col("cab").cast("double") * F.col("nu").cast("double"))
                    / (F.col("ca").cast("double") * F.col("cb").cast("double"))
                ),
                9,
            ).alias("pmi_nats"),
        )
    )
