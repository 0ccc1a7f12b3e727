"""The maintained inverted index — build (q110) → extend (q281) →
retract (q277) — run as a STREAM: raw document files arrive, and each
micro-batch advances the persisted (index, overflow) factorization
through `extend_inverted_index_delta` + `retract_inverted_index_delta`
under the streaming exactly-once machinery — the q273/q275 treatment
applied to the retrieval store, so EVERY maintained artifact in the
engine now has a streaming path.

Why `foreachBatch`: same argument as `streaming/components.py` — the
state is two RELATIONS maintained by joins against the batch, not
per-key k-row state.

The state lives in a delta-generation store (`streaming/store.py`:
layout, commit protocol, compaction and retention) with TERM-GRAIN
UPSERT generations. The store's row-grain rule (insert rows,
tombstone ids) doesn't fit the index: a maintenance verb REPLACES a
dirty term's entire state (its postings array, its overflow rows —
re-ranked, re-capped), so the natural delta is a keyed whole-row
upsert. Under `store_dir`:

    base_g{G}/{index,overflow}/   full snapshots: the seed (G=0) and
                                  periodic compactions
    base_g{G}/{tf,pos,stats}/     OPTIONAL serving satellites (same
                                  snapshots), present iff seeded:
                                  doc_term_stats rows + the 1-row
                                  corpus marginal (BM25 serving,
                                  `indexing.bm25_from_store`) and
                                  positional postings (phrase
                                  serving)
    delta_g{g}/terms/             batch g's DIRTY TERM set — every
                                  term whose state gen g rewrote
    delta_g{g}/index/             those terms' repaired index rows
    delta_g{g}/overflow/          those terms' repaired overflow rows
    delta_g{g}/{tf,pos}/          those terms' repaired satellite
                                  rows (iff seeded) — same dirty set,
                                  same last-writer-wins read rule
    delta_g{g}/stats/             the post-batch 1-row scoring
                                  marginal (iff tf seeded)

A dirty term ABSENT from a generation's index rows left the index in
that generation (lost its last posting) — dirty + absent = delete, so
no separate tombstone relation is needed at term grain.

Reconstruction at version v (`read_index_store`): per term,
LAST-WRITER-WINS at generation grain — base rows pass through behind
one broadcast anti on the union of retained dirty-term sets
(delta-sized); delta rows survive iff their generation IS the term's
latest touching generation. Both relations follow the same rule; the
corpus-sized base streams once, every other input is delta-sized.

Per-batch write volume is O(dirty terms' rows) — the batch's terms
plus the takedown's touched terms — matching the batch's COMPUTE
(the q281/q277 delta-cost arguments), never the vocabulary.

The exported serving layout (`export_serving_layout`) follows the
versioned-layout rules of `streaming/serving.py`.

CRUD: with `op_col`, op > 0 rows are document INGESTS, op < 0 rows
TAKEDOWNS (text may be NULL — only the id matters). Inserts apply
first, takedowns second against the post-insert state (composed
lazily), so a same-batch ingest+takedown ends deleted — the order is
definitional, fixed by the q275 convention. The two verbs' dirty
sets merge into ONE net generation: terms the takedown re-repaired
take the post-takedown rows; insert-only terms keep the post-insert
rows.

The maintained store keeps **min_df=1** (every term): build-time
min_df drops are unrecoverable under inserts (`extend_inverted_index`
refuses them), so min_df is the READER's doc_freq filter — the exact
equivalent, since the cap ranks within a term independently of the
term filter (proven by q281's oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from patientdataintegration_spark.streaming.serving import (
    publish,
    read_relation,
    read_serving_meta,
    refresh_range,
    stage,
)
from patientdataintegration_spark.streaming.store import (
    base_relations,
    compact,
    freeze_small,
    parallel_actions,
    read_base,
    read_deltas,
    read_newest,
    resolve,
    run_stream,
    write_base,
    write_delta,
)

INDEX_SCHEMA = "term string, doc_freq bigint, postings array<bigint>"
OVERFLOW_SCHEMA = "term string, doc bigint"
TF_SCHEMA = "term string, doc bigint, tf bigint, len_d bigint"
POS_SCHEMA = "term string, doc bigint, pos bigint"
STATS_SCHEMA = "n_docs bigint, total_tokens bigint"
_TERM_SCHEMA = "term string"
_SCHEMAS = {
    "index": INDEX_SCHEMA,
    "overflow": OVERFLOW_SCHEMA,
    "tf": TF_SCHEMA,
    "pos": POS_SCHEMA,
}
# optional SERVING satellites beyond the (index, overflow) core, all
# term-grain upserts under the SAME dirty set and read rule: "tf"
# (doc_term_stats rows + the 1-row "stats" marginal — BM25 serving,
# r13 verdict item 1) and "pos" (positional postings — phrase
# serving, item 2). A store maintains exactly the satellites its
# seed base carries (`_store_features`).
_SATELLITES = ("tf", "pos")


def seed_index_store(
    index_init: DataFrame,
    overflow_init: DataFrame,
    store_dir: str,
    tf_init: DataFrame | None = None,
    pos_init: DataFrame | None = None,
) -> None:
    """Write generation 0 of the store the stream maintains — the
    (index, overflow) factorization, built with min_df=1 (module
    docstring), plus any serving satellites: `tf_init`
    (`operators/indexing.doc_term_stats` over the seed corpus; its
    1-row `corpus_stats` marginal is derived and persisted beside it
    as the "stats" relation) and `pos_init`
    (`operators/indexing.positional_postings`). The stream maintains
    exactly the satellites seeded here."""
    from patientdataintegration_spark.operators.indexing import corpus_stats

    rels = {"index": index_init, "overflow": overflow_init}
    if tf_init is not None:
        tf_init = tf_init.localCheckpoint()  # consumers: write + stats
        rels["tf"] = tf_init.select("term", "doc", "tf", "len_d")
        rels["stats"] = corpus_stats(tf_init)
    if pos_init is not None:
        rels["pos"] = pos_init.select("term", "doc", "pos")
    write_base(store_dir, 0, rels)


def _store_features(store_dir: str) -> tuple[str, ...]:
    """Which serving satellites this store maintains — feature-
    detected from its newest base snapshot (the seed, or the last
    compaction, which folds every maintained relation)."""
    seeded = base_relations(store_dir)
    return tuple(n for n in _SATELLITES if n in seeded)


def _read_upserts(
    spark: SparkSession,
    store_dir: str,
    name: str,
    schema: str,
    gens: list[int],
) -> tuple[DataFrame | None, DataFrame | None]:
    """(touched terms with their latest touching generation, upsert
    rows stamped `_gen`) across the retained generations — the two
    delta-sized inputs of the last-writer-wins reconstruction."""
    touched = read_deltas(spark, store_dir, "terms", gens, _TERM_SCHEMA)
    rows = read_deltas(spark, store_dir, name, gens, schema)
    if touched is not None:
        touched = touched.groupBy("term").agg(F.max("_gen").alias("_lg"))
    return touched, rows


def read_index_store(
    spark: SparkSession,
    store_dir: str,
    name: str,
    version: int | None = None,
) -> DataFrame:
    """Reconstruct one of the maintained term-grain relations
    ("index", "overflow", or a seeded satellite "tf"/"pos") at
    `version` (default: latest): base rows pass through behind one
    broadcast anti on the retained dirty-term union; delta rows
    survive iff their generation is the term's LATEST touching
    generation (term-grain last-writer-wins — a term absent from its
    latest generation's rows left the index). One rule serves every
    relation because every relation is keyed and repaired at term
    grain under the SAME per-generation dirty set."""
    if name not in _SCHEMAS:
        raise ValueError(
            f"unknown store relation {name!r} ({'/'.join(_SCHEMAS)})"
        )
    schema = _SCHEMAS[name]
    _version, base, gens = resolve(store_dir, version)
    base_df = read_base(spark, store_dir, base, name, schema)
    touched, rows = _read_upserts(spark, store_dir, name, schema, gens)
    if touched is None:
        return base_df
    out = base_df.join(
        F.broadcast(touched.select("term")), "term", "left_anti"
    )
    if rows is not None:
        latest_rows = (
            rows.join(F.broadcast(touched), "term")
            .filter(F.col("_gen") == F.col("_lg"))
            .drop("_gen", "_lg")
        )
        out = out.unionByName(latest_rows)
    return out


def read_index_stats(
    spark: SparkSession, store_dir: str, version: int | None = None
) -> DataFrame:
    """The store's 1-row (n_docs, total_tokens) scoring marginal at
    `version` — present only in stores seeded with the "tf"
    satellite. Every generation (seed base, each committed delta,
    each compaction) persists the POST-generation totals, so the read
    is simply the newest stats at or below `version`: BM25's avgdl
    folds in at query time from these two exact counters (the Lucene
    treatment — nothing corpus-sized is read or aggregated)."""
    stats = read_newest(spark, store_dir, "stats", STATS_SCHEMA, version)
    if stats is None:
        raise ValueError(
            f"index store at {store_dir!r} has no scoring stats at version "
            f"{'latest' if version is None else version} — seed it with "
            "tf_init (seed_index_store) to maintain the BM25 serving "
            "satellites"
        )
    return stats


def _fold(spark: SparkSession, store_dir: str, gen: int) -> dict:
    # every maintained relation, seeded satellites and the stats
    # marginal included
    feats = _store_features(store_dir)
    folded = {
        name: read_index_store(spark, store_dir, name, version=gen)
        for name in ("index", "overflow", *feats)
    }
    if "tf" in feats:
        folded["stats"] = read_index_stats(spark, store_dir, version=gen)
    return folded


def term_bucket(term, n_buckets: int):
    """Deterministic serving bucket in [0, n_buckets) from the
    engine-portable md5 hash of the term — the partition key of the
    exported serving layout. md5, not Spark's murmur `hash()`: a
    layout written today must still be addressable by any engine (or
    a driver-side Python planner) tomorrow."""
    from patientdataintegration_spark.functions.deterministic import (
        md5_bigint,
    )

    return (md5_bigint(term) % F.lit(n_buckets)).cast("int")


def term_bucket_py(term: str, n_buckets: int) -> int:
    """The driver-side twin of `term_bucket` — what a query planner
    uses to turn a query's term list into the partition filter,
    without touching the cluster."""
    import hashlib

    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:14], 16) % (
        n_buckets
    )


def export_serving_layout(
    spark: SparkSession,
    store_dir: str,
    out_dir: str,
    relations: tuple[str, ...] = ("tf",),
    n_buckets: int = 64,
    version: int | None = None,
    keep_old_versions: int = 0,
) -> int:
    """Export maintained term-grain relations into a SERVING-OPTIMIZED
    layout: hive-partitioned by `term_bucket`, so a point-term query
    reads only its terms' buckets (partition pruning at plan time)
    instead of streaming the whole relation behind a semi-probe —
    Spark's analogue of Lucene's term-dictionary seek, and the
    offline-job companion of `compact_index_store` (the q246 nightly
    shape: maintenance stays delta-sized online; the corpus-sized
    rewrite runs scheduled, off the ingest path).

    The export pins ONE store version (default latest committed) and
    records it with `n_buckets` in a meta file: serving from the
    layout answers AT that version — a consistent snapshot, the q287
    time-travel semantics — until the next export/refresh advances
    it (the staleness contract, stated rather than hidden). The
    scoring stats marginal is copied alongside when "tf" exports.
    Returns the exported version.

    `n_buckets` is FROZEN per layout directory — re-exporting in
    place with a different bucket count is refused, because a reader
    racing the rewrite would pair one bucket mapping with the other's
    partitions and silently drop queried terms' rows. Changing the
    bucket count means exporting to a FRESH directory and flipping
    the serving pointer.

    Every relation (and the stats marginal) stages to a fresh
    version-tagged directory (`serving.stage`) that `serving.publish`
    then flips the meta to — including the full fallback
    `refresh_serving_layout` can fire inline from a live stream;
    `keep_old_versions` sets the retention window. The one residual
    in-place case: re-exporting at the SAME already-served version
    (e.g. growing the relation set with no new store generation)
    rewrites that version's directories under readers — run that
    shape as an offline job."""
    version, _base, _gens = resolve(store_dir, version)
    if os.path.isfile(os.path.join(out_dir, "serving_meta.json")):
        old_meta = read_serving_meta(out_dir)
        if old_meta["n_buckets"] != n_buckets:
            raise ValueError(
                f"serving layout at {out_dir!r} was exported with "
                f"n_buckets={old_meta['n_buckets']}; re-exporting in place "
                f"with n_buckets={n_buckets} would pair the old bucket "
                "mapping with the new partitions — export to a fresh "
                "directory instead"
            )
        old_rels = set(old_meta.get("relations", ()))
        if old_rels and not old_rels <= set(relations):
            # shrinking the relation set in place would leave the
            # dropped relations' directories readable at the OLD
            # version under the new meta version — the same silent-
            # staleness class the n_buckets freeze refuses
            raise ValueError(
                f"serving layout at {out_dir!r} carries relations "
                f"{sorted(old_rels)}; re-exporting in place with only "
                f"{sorted(relations)} would leave the dropped relations "
                "stale-but-readable — export to a fresh directory instead"
            )
    meta = {
        "n_buckets": n_buckets,
        "version": version,
        "relations": list(relations),
        "dirs": {},
    }
    writes = [
        stage(
            out_dir, meta, name,
            read_index_store(spark, store_dir, name, version=version)
            .withColumn("tb", term_bucket(F.col("term"), n_buckets)),
            "tb",
        )
        for name in relations
    ]
    if "tf" in relations:
        writes.append(stage(
            out_dir, meta, "stats",
            read_index_stats(spark, store_dir, version=version),
        ))
    parallel_actions(writes)
    publish(out_dir, meta, keep_old_versions)
    return version


def read_serving_stats(spark: SparkSession, out_dir: str) -> DataFrame:
    """The exported layout's 1-row scoring marginal, resolved through
    the meta so a reader always pairs the stats with the row
    directories of the meta version it planned against."""
    return read_relation(
        spark, out_dir, read_serving_meta(out_dir), "stats", STATS_SCHEMA
    )


def refresh_serving_layout(
    spark: SparkSession,
    store_dir: str,
    out_dir: str,
    version: int | None = None,
    keep_old_versions: int = 0,
    dirty_terms: list | None = None,
    dirty_terms_version: int | None = None,
) -> dict:
    """INCREMENTAL refresh of an exported serving layout (r14 verdict
    item 1): `export_serving_layout` rewrites EVERY bucket of every
    relation — a corpus-sized job even when one CRUD batch dirtied a
    handful of terms. The store already records each generation's
    dirty-term set (`delta_g{g}/terms/`), so a refresh from the
    exported version v_exp to the store's committed version v_new
    touches exactly the buckets containing terms dirtied in
    (v_exp, v_new]:

    - dirty terms = ∪ delta_g{g}/terms over that range (delta-sized);
      their bucket set collects DRIVER-SIDE (≤ n_buckets ints — the
      planner input of the rewrite);
    - new bucket content = (the old exported rows of those buckets,
      read PRUNED, minus dirty terms) ∪ (each dirty term's rows from
      its latest touching generation in range — the store's own
      last-writer-wins rule restricted to the range, delta-sized);
      dirty + absent = the term left the index, so it simply
      contributes no rows;
    - the job writes only those buckets (copy-on-write staging,
      below); a dirty bucket whose terms all vanished is never
      created.

    Refresh cost is therefore O(dirty terms' rows + their buckets'
    rows), never the store (pinned by tests/test_scoring_store.py:
    untouched bucket files stay byte-identical). The version range
    follows `serving.refresh_range` (forward only; a generation
    folded and GC'd away means a full re-export at v_new — correct,
    just not incremental). `n_buckets` stays frozen (see
    `export_serving_layout`). Returns
    {"version", "mode": "noop"|"incremental"|"full",
    "dirty_buckets"}.

    `dirty_terms`/`dirty_terms_version` (optional, r17 verdict item
    2): a caller that JUST WROTE the generation it refreshes over —
    the inline continuous-serving stream — already holds that
    generation's dirty-term list driver-side. When the refresh range
    turns out to be exactly that one generation, the dirty set and
    its bucket list are then pure driver arithmetic (`term_bucket_py`)
    — no dirty-union job, no bucket-collect job. The hint is
    VALIDATED against the computed range (a replayed/catch-up refresh
    spanning other generations ignores it), so it can narrow cost,
    never results.

    COPY-ON-WRITE staging (`serving.stage`): the refresh never writes
    into a directory the live meta references. Each relation stages
    to a fresh version-tagged directory — dirty buckets written by
    the job, untouched buckets HARDLINKED from the old directory —
    and the atomic meta flip publishes all relations + stats
    together (`serving.publish`). A reader
    therefore resolves EITHER the old meta (old dirs, old stats —
    intact, byte-identical) OR the new meta, never a pre/post hybrid,
    and a crash anywhere before the flip leaves the old layout
    serving. The old directories fall to the post-flip GC under the
    `keep_old_versions` retention window."""
    meta = read_serving_meta(out_dir)
    n_buckets = int(meta["n_buckets"])
    if "relations" not in meta:
        # a meta without the relation list predates this refresh; a
        # guessed default would advance the version while leaving the
        # unguessed relations silently stale — refuse loudly instead
        raise ValueError(
            f"serving layout at {out_dir!r} records no relation list in its "
            "meta (exported by an earlier release); re-export it before "
            "refreshing incrementally"
        )
    relations = tuple(meta["relations"])
    # validate BEFORE any write: a layout exported with
    # relations the store no longer maintains (e.g. reseeded tf-only
    # under a ('tf','pos') meta) must fail here, loudly — not midway
    # through a rewrite, and not inside the full-export fallback
    maintained = set(_store_features(store_dir)) | {"index", "overflow"}
    lost = [r for r in relations if r not in maintained]
    if lost:
        raise ValueError(
            f"serving layout at {out_dir!r} was exported with relations "
            f"{sorted(relations)}, but the store at {store_dir!r} no longer "
            f"maintains {sorted(lost)} (features: {sorted(maintained)}) — "
            "re-seed the store with the missing satellites or export a "
            "reduced layout to a fresh directory"
        )
    v_new, mode, needed = refresh_range(
        store_dir, out_dir, meta, version,
        lambda v: export_serving_layout(
            spark, store_dir, out_dir, relations, n_buckets, version=v,
            keep_old_versions=keep_old_versions,
        ),
    )
    if mode != "incremental":
        return {"version": v_new, "mode": mode,
                "dirty_buckets": [] if mode == "noop" else None}

    if (
        dirty_terms is not None
        and dirty_terms_version is not None
        and needed == [int(dirty_terms_version)]
    ):
        # validated driver-side fast path: the caller's own dirty-term
        # list covers exactly the refresh range, so the dirty relation
        # is a local relation and the bucket plan is `term_bucket_py`
        # arithmetic — the per-batch dirty-union checkpoint and the
        # bucket collect job both disappear
        dirty_list = sorted(set(dirty_terms))
        dirty = spark.createDataFrame(
            [(t,) for t in dirty_list], _TERM_SCHEMA
        )
        buckets = sorted(
            {term_bucket_py(t, n_buckets) for t in dirty_list}
        )
    else:
        # consumers: the bucket collect + one anti-join per relation
        dirty = (
            read_deltas(spark, store_dir, "terms", needed, _TERM_SCHEMA)
            .select("term")
            .distinct()
            .localCheckpoint()
        )
        buckets = sorted(
            r["tb"]
            for r in dirty.select(
                term_bucket(F.col("term"), n_buckets).alias("tb")
            )
            .distinct()
            .collect()
        )

    def _content(name: str) -> DataFrame:
        if len(needed) == 1:
            # single-generation range (the inline continuous-serving
            # cadence): every delta row's generation IS its term's
            # latest touching generation, so last-writer-wins reduces
            # to reading the generation's rows — no per-relation
            # touched/rows bookkeeping join
            fresh = read_deltas(
                spark, store_dir, name, needed, _SCHEMAS[name]
            ).drop("_gen")
        else:
            touched, rows = _read_upserts(
                spark, store_dir, name, _SCHEMAS[name], needed
            )
            fresh = (
                rows.join(F.broadcast(touched), "term")
                .filter(F.col("_gen") == F.col("_lg"))
                .drop("_gen", "_lg")
            )
        kept = (
            _read_served(spark, out_dir, meta, name)
            .filter(F.col("tb").isin(buckets))
            .drop("tb")
            .join(F.broadcast(dirty), "term", "left_anti")
        )
        return kept.unionByName(fresh).withColumn(
            "tb", term_bucket(F.col("term"), n_buckets)
        )

    # every relation and the stats marginal stage independently (the
    # meta flip below is the single publish point) — run them
    # concurrently
    new_meta = {**meta, "version": v_new, "dirs": dict(meta["dirs"])}
    writes = [
        stage(out_dir, new_meta, name, _content(name), "tb", buckets)
        for name in relations
    ]
    if "tf" in relations:
        writes.append(stage(
            out_dir, new_meta, "stats",
            read_index_stats(spark, store_dir, version=v_new),
        ))
    parallel_actions(writes)
    publish(out_dir, new_meta, keep_old_versions)
    return {"version": v_new, "mode": "incremental", "dirty_buckets": buckets}


def read_serving_relation(
    spark: SparkSession,
    out_dir: str,
    name: str,
    terms: list[str] | None,
) -> DataFrame:
    """Pruned point read over an exported serving layout: the query's
    terms map to buckets DRIVER-SIDE (`term_bucket_py` — the term
    list is query-sized metadata, never cluster data), and the
    bucket IN-list lands as a partition filter the scan prunes on at
    plan time; the residual term IN-list cuts bucket cohabitants.
    Feed the result straight to `bm25_from_store` /
    `phrase_retrieval_nterm` — at 100 TB this turns "stream the
    store once per query batch" into "read |query terms| buckets of
    1/n_buckets each".

    `terms=None` is the DECLARED unpruned fallback (the
    `collect_pruning_terms` guard's escape hatch): read the whole
    relation and let the downstream semi-probe do the cutting —
    correct, just not pruned, and the right plan anyway once a query
    batch's vocabulary stops being "point read"-sized. The bucket
    count and the relation directory come from one read of the meta."""
    meta = read_serving_meta(out_dir)
    served = _read_served(spark, out_dir, meta, name)
    if terms is None:
        return served.drop("tb")
    n_buckets = int(meta["n_buckets"])
    buckets = sorted({term_bucket_py(t, n_buckets) for t in terms})
    return (
        served
        .filter(F.col("tb").isin(buckets))
        .filter(F.col("term").isin(list(terms)))
        .drop("tb")
    )


def collect_pruning_terms(
    terms_df: DataFrame, column: str = "term", max_terms: int = 100_000
) -> list[str] | None:
    """The serving planner's driver-side term collect with an OOM
    guard (r15 verdict item 4): the standard term-dictionary-seek
    pattern collects a query batch's distinct vocabulary to plan the
    bucket partition filter — bounded by the batch's vocabulary,
    which is usually tiny, but nothing STRUCTURAL stops a
    pathological batch from carrying millions of distinct terms
    straight into driver memory. `limit(max_terms + 1)` bounds the
    transfer regardless of input size; above the cap the planner
    returns None and callers fall back to the unpruned relation read
    (`read_serving_relation(..., terms=None)`) — at that vocabulary
    size an IN-list stops pruning anything anyway, so the fallback
    is both the safe and the fast plan."""
    capped = (
        terms_df.select(F.col(column).alias("term"))
        .distinct()
        .limit(max_terms + 1)
        .collect()
    )
    if len(capped) > max_terms:
        return None
    return sorted(r["term"] for r in capped)


def _read_served(
    spark: SparkSession, out_dir: str, meta: dict, name: str
) -> DataFrame:
    return read_relation(
        spark, out_dir, meta, name, f"{_SCHEMAS[name]}, tb int"
    )


def compact_index_store(spark: SparkSession, store_dir: str) -> int:
    """Compaction as a SCHEDULED MAINTENANCE JOB for the index store
    (`store.compact`): fold at the latest committed generation outside
    the ingest hot path (run the stream with `compact_every=0`).
    Returns the folded generation."""
    return compact(spark, store_dir, _fold)


def index_stream(
    spark: SparkSession,
    source_dir: str,
    glob: str,
    store_dir: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    op_col: str | None = None,
    max_postings: int | None = 16,
    compact_every: int = 16,
    serving_out: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain the document file stream under `availableNow`,
    maintaining the seeded (index, overflow) store one micro-batch at
    a time, and return the FINAL maintained index. Call again after
    new files land (same checkpoint): only the new files process,
    against the surviving state — the q270/q273 restart pattern.

    With `serving_out` (a layout previously created by
    `export_serving_layout` against this store), the stream is
    CONTINUOUS SERVING: each micro-batch ends with an incremental
    `refresh_serving_layout`, so the point-read layout follows the
    stream — the batch's dirty terms' buckets rewrite, everything
    else stays byte-identical — and no scheduled refresh job exists
    to fall behind. Replay-safe for free: a replayed batch finds the
    layout already at (or past) its generation and the refresh
    no-ops (it only moves forward). The refresh rides the SAME
    foreachBatch, strictly after the generation's commit sentinel —
    a crash between commit and refresh leaves a committed store one
    version ahead of the layout, which the next batch's refresh
    catches up (staleness, never wrongness).

    Per batch: `extend_inverted_index_delta` over the op > 0 rows
    (dirty terms = the batch's vocabulary, broadcast; repair shuffle
    = those terms' rows), then — CRUD mode — `retract_inverted_
    index_delta` over the op < 0 ids against the POST-INSERT state
    (composed lazily: store ∖ insert-dirty ∪ insert rows, never
    materialized vocabulary-wide), so a same-batch ingest+takedown
    ends deleted. The two dirty sets merge into one net term-grain
    upsert generation (takedown-repaired terms win); writes are
    O(dirty terms' rows). Every `compact_every` batches the deltas
    fold into a new base and old generations GC (`store.write_delta`),
    bounding read fan-in and disk
    (`store.store_disk_report`).

    `max_files_per_trigger` is the file source's rate limit
    (`maxFilesPerTrigger`): under `availableNow` the backlog then
    drains as MULTIPLE consecutive micro-batches in one run instead
    of one big batch — the continuous-trigger cadence, which is how
    tests pin that the inline serving refresh keeps the export fresh
    after EVERY batch (not just at end-of-run), and the knob a
    deployment sizes so a batch's dirty-term repair fits its
    micro-batch budget."""
    from patientdataintegration_spark.operators.indexing import (
        crud_inverted_index_delta,
        doc_term_stats,
        extend_inverted_index_delta,
        positional_postings,
    )

    # which serving satellites this store maintains (seeded relations
    # beyond the core pair) — fixed at seed time, detected once
    feats = _store_features(store_dir)

    def advance(batch: DataFrame, v: int, g: int) -> None:
        s = batch.sparkSession
        index_old = read_index_store(s, store_dir, "index", version=v)
        overflow_old = read_index_store(s, store_dir, "overflow", version=v)
        if op_col is not None:
            # bounded driver materialization of the takedown set: one
            # job, and the emptiness test below is free
            deleted, _del_ids = freeze_small(
                batch.filter(F.col(op_col) < 0).select(F.col(id_col))
                .distinct()
            )
            if _del_ids is not None and not _del_ids:
                deleted = None
            ingest = batch.filter(F.col(op_col) > 0).drop(op_col)
        else:
            deleted = None
            ingest = batch

        # OVERLAP the batch's independent materializations (guide
        # §2.6, the parallel_actions discipline applied to the repair
        # reads): the repair's dirty collect + ranked checkpoint and
        # the tf satellite's doc_term_stats checkpoint have no
        # ordering constraint between them. A batch carrying both
        # inserts and takedowns runs the FUSED one-pass repair
        # (`crud_inverted_index_delta` — one dirty derivation + one
        # re-rank, bit-identical to extend-then-retract; the two
        # sequential `_rank_term_docs` checkpoints were the stream's
        # priciest per-batch jobs).
        res: dict = {}

        def _repair() -> None:
            if deleted is not None:
                res["rep"] = crud_inverted_index_delta(
                    index_old, overflow_old, ingest, deleted,
                    max_postings=max_postings, text_col=text_col,
                    id_col=id_col,
                )
            else:
                res["rep"] = extend_inverted_index_delta(
                    index_old, overflow_old, ingest,
                    max_postings=max_postings, text_col=text_col,
                    id_col=id_col,
                )

        jobs1 = [_repair]
        if "tf" in feats:

            def _batch_tf() -> None:
                res["btf"] = doc_term_stats(
                    ingest, text_col=text_col, id_col=id_col
                ).localCheckpoint()  # consumers: tf rows + stats bookkeeping
                # the stats bookkeeping's (doc, len_d) marginal chains
                # on the pinned batch_tf in the same thread — both
                # overlap the repair
                res["bdocs"] = (
                    res["btf"].select("doc", "len_d").distinct()
                    .localCheckpoint()
                )

            jobs1.append(_batch_tf)
        parallel_actions(jobs1)
        dirty, index_rows, overflow_rows = res["rep"]
        dirty_local = getattr(dirty, "_pdi_local_rows", None)

        # --- serving satellites: SAME dirty set, same upsert rule.
        # Soundness of sharing the index's dirty terms: a tf/pos row
        # changes only when its doc is ingested (its terms are the
        # batch vocabulary = d1) or deleted (its terms appear in the
        # doc's post-insert postings∪overflow, hence in d2), so every
        # changed satellite row's term is dirty; and a dirty term's
        # rows are rebuilt WHOLLY from store-rows ∪ batch-rows minus
        # deleted docs — one rule, no per-relation delta algebra.
        sat_rows: dict[str, DataFrame] = {}
        stats_new: DataFrame | None = None
        if feats:
            # dirty is already pinned (freeze_small's lazy checkpoint,
            # materialized by its probe) — the satellite semis and the
            # terms write reuse the cached relation
            # the batch's ingested doc ids — re-ingest idempotency for
            # the satellites is a DETERMINISTIC anti-join on these
            # (store rows of a doc the batch carries always lose to
            # the batch rows), not a dropDuplicates whose survivor is
            # partition-order luck (r14 ADVICE: under a contract-
            # violating re-ingest with changed text, an arbitrary
            # survivor silently corrupts tf/stats forever)
            ingest_docs = F.broadcast(
                ingest.select(
                    F.col(id_col).cast("bigint").alias("doc")
                ).distinct()
            )
            dele_docs = (
                F.broadcast(
                    deleted.select(
                        F.col(id_col).cast("bigint").alias("doc")
                    ).distinct()
                )
                if deleted is not None
                else None
            )
        if "tf" in feats:
            batch_tf = res["btf"]  # pinned in phase 1, overlapping extend
            tf_old = read_index_store(s, store_dir, "tf", version=v)
            tf_rows = (
                tf_old.join(F.broadcast(dirty), "term", "left_semi")
                .join(ingest_docs, "doc", "left_anti")
                .unionByName(batch_tf)
            )
            # stats bookkeeping — exact integer deltas: +(batch docs
            # not already live), −(live or same-batch docs taken
            # down); the one store scan is doc-probed and broadcast-
            # bounded, the same order the retract path already pays
            stats_old = read_index_stats(s, store_dir, version=v)
            batch_docs = res["bdocs"]  # pinned in phase 1
            live_batch = (
                tf_old.join(
                    F.broadcast(batch_docs.select("doc")), "doc", "left_semi"
                )
                .select("doc")
                .distinct()
            )
            added = batch_docs.join(F.broadcast(live_batch), "doc", "left_anti")
            if dele_docs is not None:
                tf_rows = tf_rows.join(dele_docs, "doc", "left_anti")
                # one (doc, len_d) row per removed doc, batch-wins to
                # match tf_rows' upsert rule: a doc both live and in
                # the batch contributes exactly its surviving len_d,
                # never two differing rows double-subtracting from
                # total_tokens (r14 ADVICE)
                removed = (
                    tf_old.join(dele_docs, "doc", "left_semi")
                    .join(
                        F.broadcast(batch_docs.select("doc")),
                        "doc",
                        "left_anti",
                    )
                    .select("doc", "len_d")
                    .distinct()
                    .unionByName(
                        batch_docs.join(dele_docs, "doc", "left_semi")
                    )
                )
            else:
                removed = batch_docs.filter(F.lit(False))
            adds = added.agg(
                F.count(F.lit(1)).alias("_na"),
                F.coalesce(F.sum("len_d"), F.lit(0)).alias("_ta"),
            )
            rems = removed.agg(
                F.count(F.lit(1)).alias("_nr"),
                F.coalesce(F.sum("len_d"), F.lit(0)).alias("_tr"),
            )
            stats_new = (
                stats_old.crossJoin(F.broadcast(adds))
                .crossJoin(F.broadcast(rems))
                .select(
                    (F.col("n_docs") + F.col("_na") - F.col("_nr"))
                    .cast("bigint")
                    .alias("n_docs"),
                    (F.col("total_tokens") + F.col("_ta") - F.col("_tr"))
                    .cast("bigint")
                    .alias("total_tokens"),
                )
            )
            sat_rows["tf"] = tf_rows.select("term", "doc", "tf", "len_d")
        if "pos" in feats:
            pos_old = read_index_store(s, store_dir, "pos", version=v)
            pos_rows = (
                pos_old.join(F.broadcast(dirty), "term", "left_semi")
                .join(ingest_docs, "doc", "left_anti")
                .unionByName(
                    positional_postings(
                        ingest, text_col=text_col, id_col=id_col
                    )
                )
            )
            if dele_docs is not None:
                pos_rows = pos_rows.join(dele_docs, "doc", "left_anti")
            sat_rows["pos"] = pos_rows.select("term", "doc", "pos")

        rels = {
            "index": index_rows.select("term", "doc_freq", "postings"),
            "overflow": overflow_rows.select("term", "doc"),
            **sat_rows,
        }
        if stats_new is not None:
            rels["stats"] = stats_new
        rels["terms"] = dirty.select("term")
        write_delta(s, store_dir, g, rels, compact_every, _fold)
        if serving_out is not None:
            # the batch's own dirty terms (when collected locally)
            # let the inline refresh plan its buckets driver-side —
            # validated inside against the actual refresh range
            refresh_serving_layout(
                s, store_dir, serving_out,
                dirty_terms=dirty_local, dirty_terms_version=g,
            )

    run_stream(
        spark, source_dir, glob, store_dir, checkpoint, advance,
        max_files_per_trigger,
    )
    return read_index_store(spark, store_dir, "index")
