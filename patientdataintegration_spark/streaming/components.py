"""The maintained dedup loop — pairs (q263) → components (q268) —
run as a STREAM: MinHash-signature deltas arrive as files, and each
micro-batch advances the persisted (signatures, pairs, labels) state
through `maintain_lsh_pairs` + `maintain_components`, so the whole
nightly dedup pipeline sits under the streaming exactly-once
machinery.

Why `foreachBatch` and not a stateful operator: the dedup state is
three RELATIONS (the signature store, the candidate-pair view, the
label table), maintained by joins against the batch — exactly the
shape `foreachBatch` exists for (arbitrary batch logic over
exactly-once micro-batches), and nothing like the per-key k-row
state `applyInPandasWithState` models (q270). The 100 TB deployment
is the same code: the stores are parquet/Delta tables, each batch
touches O(|Δ|) of them (the q263/q268 cost arguments), and the
checkpoint guarantees a crashed batch re-runs.

The state lives in a delta-generation store (`streaming/store.py`:
layout, commit protocol, compaction and retention). Its relations:

    base_g{G}/{sigs,pairs,labels}/   full snapshots
    delta_g{g}/sigs/                 batch g's ingested signatures
    delta_g{g}/edges/                batch g's new candidate pairs
    delta_g{g}/labels/               batch g's label delta: (node,
                                     label) assignments; label NULL
                                     is a tombstone (node leaves the
                                     labeling — deleted or orphaned)
    delta_g{g}/tombs/                batch g's document takedowns
                                     (kill sigs/pairs rows of gen<=g)

Per-batch write volume is O(|Δ| + dirty clusters) — the same order
as the batch's COMPUTE (`maintain_components_delta` /
`retract_documents_delta` emit exactly the changed rows), so the
q263/q268 delta-cost argument holds end to end, writes included.

State reconstruction at version v (`read_store`) is three cheap
rules over (latest base B ≤ v) + deltas in (B, v]:

- sigs:  the store's row-grain rule (`store.read_rowstore`): base
  rows minus tombstoned ids, plus delta rows whose gen is ABOVE the
  id's latest tombstone — so a same-batch ingest+takedown dies and a
  later re-ingest lives;
- pairs: the same gen rule on BOTH endpoints;
- labels: last-writer-wins per node across base (gen B) and delta
  assignments/tombstones (their gen), NULL winner = gone.

Every rule keeps the big side streaming: the base scans once under
broadcast anti/semi probes built from the (delta-sized) retained
generations; the last-writer-wins aggregate runs over DELTA rows
only, never the corpus.

The stream is full-CRUD when an `op_col` is declared: op > 0 rows
ingest signatures, op < 0 rows are TAKEDOWNS, applied after the
batch's inserts through the q272 retraction machinery — so GDPR
erasure rides the same exactly-once micro-batches as ingest (q275).

Determinism for the q273 oracle: each `availableNow` run processes
the files that appeared since the last run as ONE micro-batch (the
q270/q88 argument), so a fixed file-arrival schedule yields a fixed
batch sequence, and maintenance == full recompute (the q268
equivalence, applied inductively per batch) makes the final labels
hash-equal to the batch q115 transitive closure over the complete
corpus — restart/replay convergence is pinned by
tests/test_streaming_components.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from patientdataintegration_spark.streaming.store import (
    compact,
    freeze_small,
    parallel_actions,
    read_base,
    read_deltas,
    read_rowstore,
    resolve,
    run_stream,
    tombs_by_id,
    write_base,
    write_delta,
)

LABEL_SCHEMA = "node bigint, label bigint"
PAIR_SCHEMA = "doc_a bigint, doc_b bigint"


def read_store(
    spark: SparkSession,
    store_dir: str,
    name: str,
    version: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reconstruct one of the three maintained relations ("sigs",
    "pairs", "labels") at `version` (default: latest) from its base
    snapshot + retained delta generations — the read path of the
    dedup store (module docstring). The base is streamed once under
    broadcast probes; every other input is delta-sized."""
    if name == "sigs":
        return read_rowstore(spark, store_dir, "sigs", version, id_col)
    version, base, gens = resolve(store_dir, version)
    if name == "labels":
        base_df = read_base(spark, store_dir, base, "labels", LABEL_SCHEMA)
        deltas = read_deltas(spark, store_dir, "labels", gens)
        if deltas is None:
            return base_df
        # last-writer-wins per node: the delta agg is delta-sized;
        # base rows only pass through an anti on the delta node set
        touched = deltas.select(F.col("node").cast("bigint").alias("node"))
        resolved = (
            deltas.select(
                F.col("node").cast("bigint").alias("node"),
                F.struct(
                    F.col("_gen"), F.col("label").cast("bigint").alias("label")
                ).alias("_w"),
            )
            .groupBy("node")
            .agg(F.max("_w").alias("_w"))
            .filter(F.col("_w.label").isNotNull())
            .select("node", F.col("_w.label").alias("label"))
        )
        return base_df.join(
            F.broadcast(touched.distinct()), "node", "left_anti"
        ).unionByName(resolved)

    if name == "pairs":
        tombs = tombs_by_id(spark, store_dir, gens, id_col)
        base_df = read_base(spark, store_dir, base, "pairs", PAIR_SCHEMA)
        deltas = read_deltas(spark, store_dir, "edges", gens)
        if deltas is not None:
            deltas = deltas.select(
                F.col("doc_a").cast("bigint").alias("doc_a"),
                F.col("doc_b").cast("bigint").alias("doc_b"),
                "_gen",
            )
        if tombs is not None:
            ta = tombs.select(
                F.col(id_col).alias("doc_a"), F.col("_tg").alias("_tga")
            )
            tb = tombs.select(
                F.col(id_col).alias("doc_b"), F.col("_tg").alias("_tgb")
            )
            base_df = base_df.join(
                F.broadcast(ta.select("doc_a")), "doc_a", "left_anti"
            ).join(F.broadcast(tb.select("doc_b")), "doc_b", "left_anti")
            if deltas is not None:
                deltas = (
                    deltas.join(F.broadcast(ta), "doc_a", "left")
                    .join(F.broadcast(tb), "doc_b", "left")
                    .filter(
                        (F.col("_tga").isNull() | (F.col("_tga") < F.col("_gen")))
                        & (F.col("_tgb").isNull() | (F.col("_tgb") < F.col("_gen")))
                    )
                    .drop("_tga", "_tgb")
                )
        if deltas is None:
            return base_df.select("doc_a", "doc_b")
        return base_df.select("doc_a", "doc_b").unionByName(
            deltas.select("doc_a", "doc_b")
        )

    raise ValueError(f"unknown store relation {name!r} (sigs/pairs/labels)")


def seed_stores(
    sigs_init: DataFrame, pairs_init: DataFrame, labels_init: DataFrame,
    store_dir: str,
) -> None:
    """Write generation 0 of the three dedup stores (the persisted
    corpus the stream maintains) as the first base snapshot."""
    write_base(
        store_dir, 0,
        {"sigs": sigs_init, "pairs": pairs_init, "labels": labels_init},
    )


def _fold(spark: SparkSession, store_dir: str, gen: int) -> dict:
    return {
        name: read_store(spark, store_dir, name, version=gen)
        for name in ("sigs", "pairs", "labels")
    }


def compact_store(spark: SparkSession, store_dir: str) -> int:
    """Fold the dedup store's retained deltas into a new base at the
    latest committed generation as a scheduled maintenance job
    (`store.compact`): at 100 TB the fold streams the corpus-sized
    base, and paying that inside `foreachBatch` (the `compact_every`
    inline mode) stalls ingest; a nightly job (the q246 shape) does
    the same fold while ingest batches stay delta-sized
    (`compact_every=0` on the stream). Returns the folded
    generation."""
    return compact(spark, store_dir, _fold)


def components_stream(
    spark: SparkSession,
    source_dir: str,
    glob: str,
    store_dir: str,
    checkpoint: str,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 2,
    op_col: str | None = None,
    compact_every: int = 16,
) -> DataFrame:
    """Drain the signature-delta file stream under `availableNow`,
    maintaining the seeded stores one micro-batch at a time, and
    return the FINAL label table. Call again after new files land
    (same checkpoint): only the new files process, against the
    surviving state — the q270 restart pattern.

    Per batch, all work AND all writes are delta-sized (the module
    docstring's store layout): bipartite-band the batch against the
    signature store plus within-batch banding -> the delta edge set,
    written as `delta_g{batch+1}/edges`; the label CHANGES from
    `maintain_components_delta` (merged clusters + new nodes only)
    written as `delta_g{batch+1}/labels`; the batch's signatures as
    `delta_g{batch+1}/sigs`. The old pair view is never read at all
    on the insert path — not even to append to.

    With `op_col` the stream is full-CRUD CDC: a batch row with
    op > 0 is a signature INGEST, op < 0 a document TAKEDOWN (its
    signature columns may be NULL — only the id matters). Within a
    batch, inserts apply first, takedowns second (a doc ingested and
    taken down in one batch ends deleted — last-writer order fixed
    by definition, not arrival), and the takedown runs the q272
    machinery against the post-insert state:
    `retract_documents_delta` yields the repaired dirty-cluster
    rows and the leave-the-labeling tombstones, which merge with the
    insert delta into ONE net label generation; the takedown ids
    land in `delta_g{batch+1}/tombs`, which the read rules apply to
    sigs and pairs by generation (same-batch ingest+takedown dies,
    later re-ingest is a new document). Every step preserves the
    store invariant labels(v) = star(pairs(v)), which is exactly
    what the retraction's dirty-cluster logic requires.

    Every `compact_every` batches the deltas fold into a new base
    snapshot and old generations are GC'd (`store.write_delta`),
    bounding both read fan-in and disk (`store.store_disk_report`)."""
    from patientdataintegration_spark.operators.dedup import (
        lsh_candidate_pairs,
        lsh_candidate_pairs_bipartite,
        maintain_components_delta,
        retract_documents_delta,
    )

    def advance(batch: DataFrame, v: int, g: int) -> None:
        s = batch.sparkSession
        sigs_old = read_store(s, store_dir, "sigs", version=v, id_col=id_col)
        labels_old = read_store(s, store_dir, "labels", version=v, id_col=id_col)
        res: dict = {}
        acts = []
        if op_col is not None:
            # bounded driver materialization of the takedown set: one
            # job, and the emptiness test below is free
            def _deleted() -> None:
                res["del"] = freeze_small(
                    batch.filter(F.col(op_col) < 0)
                    .select(F.col(id_col))
                    .distinct()
                )

            acts.append(_deleted)
            ingest = batch.filter(F.col(op_col) > 0).drop(op_col)
        else:
            ingest = batch

        # the ingest feeds three consumers (bipartite, within, delta
        # write): freeze once, delta-sized — overlapping the takedown
        # collect (both scan only the batch; guide §2.6)
        def _sigs() -> None:
            res["sigs"] = ingest.localCheckpoint()

        acts.append(_sigs)
        parallel_actions(acts)
        sigs_delta = res["sigs"]
        if op_col is not None:
            deleted, _del_ids = res["del"]
            if _del_ids is not None and not _del_ids:
                deleted = None
        else:
            deleted = None
        cross = (
            lsh_candidate_pairs_bipartite(
                sigs_old, sigs_delta, id_col=id_col, bands=bands,
                rows_per_band=rows_per_band,
            )
            # a live id re-ingested without a prior takedown violates
            # the CDC contract, but must not mint a self-loop pair
            # that the recompute twin would never emit
            .filter(F.col("left_id") != F.col("right_id"))
            .select(
                F.least("left_id", "right_id").alias("doc_a"),
                F.greatest("left_id", "right_id").alias("doc_b"),
            )
        )
        within = lsh_candidate_pairs(
            sigs_delta, id_col=id_col, bands=bands,
            rows_per_band=rows_per_band,
        ).select("doc_a", "doc_b")
        delta_edges = cross.unionByName(within).localCheckpoint()
        label_delta = maintain_components_delta(labels_old, delta_edges)
        if deleted is not None:
            # takedowns after inserts: retraction needs the
            # labels = star(pairs) invariant on the POST-INSERT
            # state, composed lazily from the old state + the insert
            # delta (never materialized corpus-wide)
            a1 = label_delta.localCheckpoint()  # postins + assign merge
            labels_postins = labels_old.join(
                F.broadcast(a1.select("node")), "node", "left_anti"
            ).unionByName(a1)
            pairs_old = read_store(s, store_dir, "pairs", version=v, id_col=id_col)
            pairs_postins = pairs_old.unionByName(delta_edges)
            _dirty, repaired, tombs = retract_documents_delta(
                pairs_postins, labels_postins, deleted, id_col=id_col
            )
            tombs = tombs.localCheckpoint()  # assign anti + null-row write
            # net label generation: dirty-cluster rows take the
            # repaired labels; insert-delta rows outside the dirty
            # sliver stand; leavers tombstone (NULL label)
            assigns = repaired.unionByName(
                a1.join(
                    F.broadcast(repaired.select("node")), "node", "left_anti"
                ).join(F.broadcast(tombs.select("node")), "node", "left_anti")
            )
            label_delta = assigns.select(
                F.col("node").cast("bigint").alias("node"),
                F.col("label").cast("bigint").alias("label"),
            ).unionByName(
                tombs.select(
                    F.col("node").cast("bigint").alias("node"),
                    F.lit(None).cast("bigint").alias("label"),
                )
            )
            doc_tombs = deleted.select(F.col(id_col).cast("bigint").alias(id_col))
        else:
            label_delta = label_delta.select(
                F.col("node").cast("bigint").alias("node"),
                F.col("label").cast("bigint").alias("label"),
            )
            doc_tombs = sigs_delta.select(
                F.col(id_col).cast("bigint").alias(id_col)
            ).filter(F.lit(False))
        write_delta(
            s, store_dir, g,
            {"sigs": sigs_delta, "edges": delta_edges,
             "labels": label_delta, "tombs": doc_tombs},
            compact_every, _fold,
        )

    run_stream(spark, source_dir, glob, store_dir, checkpoint, advance)
    return read_store(spark, store_dir, "labels", id_col=id_col).select(
        F.col("node").cast("bigint").alias("node"),
        F.col("label").cast("bigint").alias("label"),
    )
