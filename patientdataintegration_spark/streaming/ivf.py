"""The maintained IVF (ANN) index — build (q98) → extend (q252) →
retract (q276) — run as a STREAM: vector files arrive, each
micro-batch assigns the ingests against the FROZEN coarse quantizer
and applies op-tagged takedowns, advancing the persisted inverted
file under the streaming exactly-once machinery. With
`streaming/components.py` (dedup) and `streaming/index.py`
(retrieval), every maintained artifact in the engine now has a
streaming path.

The state lives in a delta-generation store (`streaming/store.py`:
layout, commit protocol, compaction and retention) read by the
store's ROW-GRAIN rule (`store.read_rowstore`): the inverted file's
state is plain per-vector rows, inserted by assignment and deleted by
id — no term-grain upserts (the index store) and no label algebra
(the dedup store). Under `store_dir`:

    centroids/                    the frozen coarse quantizer —
                                  OUTSIDE the generations: centroids
                                  never move (the q252/q276
                                  contract), so they are written once
                                  at seed and survive every GC
    base_g{G}/assigned/           inverted-file snapshots: the seed
                                  (G=0) and periodic compactions
    delta_g{g}/assigned/          batch g's newly-assigned rows
    delta_g{g}/tombs/             batch g's vector takedowns (even
                                  when empty); the commit marker

The per-batch cost is the striking part: because centroids are frozen
and assignment is a pure per-row argmin, the insert path never reads
the old state AT ALL — each batch is one broadcast map job over its
own rows (O(|Δ| × n_cells)) plus two delta-sized writes. Takedowns
write tombstone ids only; the retraction semantics live entirely in
the read rule (`retract_ivf`'s anti-join, applied lazily at every
read instead of eagerly at write). Emptied cells keep their centroid
and serve zero rows — search-after-maintenance is bit-identical to a
rebuild over the net corpus against the same frozen quantizer, which
is what q284's oracle proves.

The exported serving layout (`export_ivf_serving_layout`) follows the
versioned-layout rules of `streaming/serving.py`.
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
    compact,
    delta_path,
    latest_generation,
    live_rows,
    overwrite,
    parallel_actions,
    read_rowstore,
    resolve,
    tombs_by_id,
    write_base,
    write_delta,
)

CENTROID_SCHEMA = "cell bigint, centroid array<double>"
ASSIGNED_SCHEMA = (
    "neighbor_id bigint, c_vec array<double>, c_norm double, cell bigint"
)
# the serving export's `assigned` relation: the store's rows stamped
# with their generation `_gen`, hive-partitioned by `cell`
SERVED_SCHEMA = (
    "neighbor_id bigint, c_vec array<double>, c_norm double, _gen int, "
    "cell bigint"
)
# the serving export's delete-file side relation: (id, latest
# tombstone generation) — `store.tombs_by_id`'s shape
TOMB_SCHEMA = "neighbor_id bigint, _tg bigint"


def seed_ivf_store(
    assigned_init: DataFrame, centroids: DataFrame, store_dir: str
) -> None:
    """Write generation 0 of the inverted file plus the FROZEN
    centroid table (outside the generations — it never changes and
    must survive GC). The sentinel goes down after both, so a crash
    leaves an unseeded-looking store that fails loudly, never a torn
    seed."""
    write_base(
        store_dir, 0, {"assigned": assigned_init},
        overwrite(centroids, os.path.join(store_dir, "centroids")),
    )


def read_ivf_centroids(spark: SparkSession, store_dir: str) -> DataFrame:
    """The frozen coarse quantizer the store was seeded with."""
    return spark.read.schema(CENTROID_SCHEMA).parquet(
        os.path.join(store_dir, "centroids")
    )


def _fold(spark: SparkSession, store_dir: str, gen: int) -> dict:
    # the centroid table lives outside the generations, untouched
    return {"assigned": read_rowstore(
        spark, store_dir, "assigned", version=gen, id_col="neighbor_id",
        marker="tombs",
    )}


def compact_ivf_store(spark: SparkSession, store_dir: str) -> int:
    """Compaction as a SCHEDULED MAINTENANCE JOB for the IVF store
    (`store.compact`): fold at the latest committed generation outside
    the ingest hot path. Returns the folded generation."""
    return compact(spark, store_dir, "tombs", _fold)


def export_ivf_serving_layout(
    spark: SparkSession,
    store_dir: str,
    out_dir: str,
    version: int | None = None,
    keep_old_versions: int = 0,
) -> int:
    """Export the maintained inverted file into a SERVING-OPTIMIZED
    layout (r14 verdict item 3 — the q290 treatment applied to the
    ANN store): the `assigned` relation hive-partitioned by its
    natural serving key, the PROBE CELL, with the (tiny) centroid
    table copied alongside as the driver-side planner input — a
    query vector maps to its n_probe cells without touching the
    cluster (`ivf_probe_cells_py`, `term_bucket_py`'s geometric
    twin), and the scan then reads ONLY those cells' partitions:
    |probe cells| / n_cells of the store per query batch, pruned at
    plan time, instead of streaming the whole inverted file behind
    the broadcast probe join.

    Pins one committed store version and publishes it through the
    atomically-flipped meta (`serving.publish`; the
    `export_serving_layout` staleness contract verbatim). The layout
    is MERGE-ON-READ refreshable (`refresh_ivf_serving_layout`):
    every exported row carries its
    assignment generation `_gen` (a full export folds the whole state,
    so all rows take the exported version), and a delta-sized
    `tombs` side relation (empty at full export) records
    (neighbor_id, latest tombstone generation) pairs the pruned read
    anti-applies with the store's own liveness rule — the
    Iceberg/Hudi delete-file pattern, so a refresh never has to FIND
    a tombstoned id's cell partition. Returns the exported
    version."""
    version, _base, _gens = resolve(store_dir, version, marker="tombs")
    meta = {"version": version, "dirs": {}}
    assigned = read_rowstore(
        spark, store_dir, "assigned", version=version,
        id_col="neighbor_id", marker="tombs",
    ).withColumn("_gen", F.lit(int(version)).cast("int"))
    parallel_actions([
        stage(out_dir, meta, "assigned", assigned, "cell"),
        stage(
            out_dir, meta, "centroids", read_ivf_centroids(spark, store_dir)
        ),
        stage(out_dir, meta, "tombs", spark.createDataFrame([], TOMB_SCHEMA)),
    ])
    publish(out_dir, meta, keep_old_versions)
    return version


def refresh_ivf_serving_layout(
    spark: SparkSession,
    store_dir: str,
    out_dir: str,
    version: int | None = None,
    keep_old_versions: int = 0,
) -> dict:
    """INCREMENTAL refresh of an exported IVF serving layout — the
    serving tier's last full-scan cost (`refresh_serving_layout`'s
    row-grain twin): a full re-export rewrites every cell partition
    even when one maintenance window touched a handful of vectors.
    The store's deltas already say exactly what changed, so a refresh
    from the exported version v_exp to the committed version v_new:

    - live inserts = the range's delta `assigned` rows above their
      id's latest in-range tombstone (the store's same-batch-dies
      rule) — delta-sized; their cell set collects DRIVER-SIDE
      (≤ n_cells ints, the rewrite's planner input);
    - each dirty cell's new content = its old exported rows (read
      PRUNED, minus rows killed by the new tombstones, minus exact
      (id, _gen) replay duplicates) ∪ the live inserts carrying their
      true generation, staged copy-on-write (`serving.stage`) with
      every untouched cell hardlinked across;
    - takedowns never hunt for their victim's partition: the range's
      (id, latest tomb gen) pairs MERGE into the delta-sized tombs
      side relation (per-id max — idempotent), staged likewise; the
      pruned read applies them with the store's liveness rule
      (`store.live_rows`: `_tg < _gen` keeps re-inserts above their
      tombstone alive).

    Refresh cost is O(inserted rows + their cells' rows + tombstone
    ids) — the maintenance window's size, never the inverted file's.
    The version range follows `serving.refresh_range`: the full
    fallback re-exports at v_new, which also resets the tombs
    relation to empty — the natural fold point, compaction-aligned.
    The meta flip publishes the whole layout (the unchanged centroid
    directory stays referenced), so a crash anywhere before it leaves
    the old layout serving. Returns {"version", "mode":
    "noop"|"incremental"|"full", "dirty_cells"}."""
    meta = read_serving_meta(out_dir)
    v_new, mode, needed = refresh_range(
        store_dir, out_dir, meta, version, "tombs",
        lambda v: export_ivf_serving_layout(
            spark, store_dir, out_dir, version=v,
            keep_old_versions=keep_old_versions,
        ),
    )
    if mode != "incremental":
        return {"version": v_new, "mode": mode,
                "dirty_cells": [] if mode == "noop" else None}

    inserts: DataFrame | None = None
    for g in needed:
        d = spark.read.schema(ASSIGNED_SCHEMA).parquet(
            delta_path(store_dir, g, "assigned")
        ).withColumn("_gen", F.lit(int(g)).cast("int"))
        inserts = d if inserts is None else inserts.unionByName(d)
    new_tombs = tombs_by_id(spark, store_dir, needed, "neighbor_id")
    # consumers: the cell collect, the replay anti-join, the union
    live = live_rows(inserts, new_tombs, "neighbor_id").localCheckpoint()
    dirty = sorted(
        r["cell"] for r in live.select("cell").distinct().collect()
    )
    merged = (
        read_relation(spark, out_dir, "tombs", TOMB_SCHEMA)
        .unionByName(new_tombs)
        .groupBy("neighbor_id")
        .agg(F.max("_tg").alias("_tg"))
    )
    new_meta = {**meta, "version": v_new, "dirs": dict(meta["dirs"])}
    # the cell rewrite and the delete-file fold are independent (the
    # meta flip is the single publish point) — overlap them
    wjobs = [stage(out_dir, new_meta, "tombs", merged)]
    if dirty:
        # checkpoint-replayed batches re-land identical (id, gen) rows;
        # the exact-pair anti keeps the rewrite idempotent without
        # collapsing the store's legitimate duplicates. No emptied-cell
        # pass (unlike the index twin): a cell is dirty only because a
        # live insert lands in it
        kept = live_rows(
            read_relation(spark, out_dir, "assigned", SERVED_SCHEMA)
            .filter(F.col("cell").isin(dirty)),
            new_tombs, "neighbor_id",
        ).join(
            F.broadcast(live.select("neighbor_id", "_gen")),
            ["neighbor_id", "_gen"],
            "left_anti",
        )
        wjobs.append(stage(
            out_dir, new_meta, "assigned", kept.unionByName(live), "cell",
            dirty,
        ))
    parallel_actions(wjobs)
    publish(out_dir, new_meta, keep_old_versions)
    return {"version": v_new, "mode": "incremental", "dirty_cells": dirty}


def ivf_probe_cells_py(
    query_vecs: list[list[float]],
    centroids: list[tuple[int, list[float]]],
    n_probe: int,
) -> list[int]:
    """The driver-side probe planner: the union of every query's
    `n_probe` nearest cells, computed from the broadcast-tiny
    centroid table WITHOUT touching the cluster — `term_bucket_py`'s
    geometric twin. Bit-faithful to `ivf_search`'s probe ranking:
    the same sequential-fold squared distance (left-to-right IEEE
    adds over double-widened components — `similarity.sq_norm`'s
    aggregate order) and the same (distance asc, cell asc) tie rule,
    so the pruned partitions are exactly a superset of what the
    search probes. Inputs are query-sized planner metadata (a query
    batch and ≤ n_cells centroids), never corpus data."""
    cells: set[int] = set()
    for q in query_vecs:
        qd = [float(x) for x in q]
        ranked = []
        for cell, cv in centroids:
            acc = 0.0
            for x, y in zip(qd, cv):
                d = x - y
                acc += d * d
            ranked.append((acc, int(cell)))
        ranked.sort()
        cells.update(c for _dist, c in ranked[:n_probe])
    return sorted(cells)


def read_ivf_serving(
    spark: SparkSession, out_dir: str, cells: list[int]
) -> tuple[DataFrame, DataFrame]:
    """(pruned assigned relation, centroid table) from an exported
    IVF serving layout: the cell IN-list lands as a partition filter
    the scan prunes on at plan time. Feed both to
    `similarity.ivf_search` — the probe join then finds every
    candidate it would have found in the full inverted file, because
    `cells` came from the same centroid ranking the search replays
    (`ivf_probe_cells_py`). The layout is merge-on-read: the pruned
    rows anti-apply the delta-sized tombstone side relation with the
    store's liveness rule (`_tg < _gen` keeps re-inserts above their
    tombstone), so a refreshed layout serves takedowns without ever
    having rewritten their cells."""
    assigned = live_rows(
        read_relation(spark, out_dir, "assigned", SERVED_SCHEMA)
        .filter(F.col("cell").isin(list(cells))),
        read_relation(spark, out_dir, "tombs", TOMB_SCHEMA),
        "neighbor_id",
    ).drop("_gen")
    # provably ≤ n_cells rows BEFORE the search's broadcast crossJoin
    # (`bm25_from_store`'s 1-row-stats adjudication): a corrupted
    # export with duplicate cell rows can never fan the rank join out
    centroids = (
        read_ivf_serving_centroids(spark, out_dir)
        .groupBy("cell")
        .agg(F.min("centroid").alias("centroid"))
    )
    return assigned, centroids


def read_ivf_serving_centroids(
    spark: SparkSession, out_dir: str
) -> DataFrame:
    """The exported layout's (tiny) centroid table — the driver-side
    probe planner's input — resolved through the meta so planners
    and the pruned read pair with one committed export version."""
    return read_relation(spark, out_dir, "centroids", CENTROID_SCHEMA)


def ivf_stream(
    spark: SparkSession,
    source_dir: str,
    glob: str,
    store_dir: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    op_col: str | None = None,
    compact_every: int = 16,
    serving_out: str | None = None,
) -> DataFrame:
    """Drain the vector file stream under `availableNow`, maintaining
    the seeded inverted file one micro-batch at a time, and return
    the FINAL maintained `assigned` relation (feed it to
    `ivf_search`). Call again after new files land (same checkpoint):
    only the new files process — the q270/q273/q283 restart pattern.

    With `serving_out` (a layout previously created by
    `export_ivf_serving_layout` against this store), the stream is
    CONTINUOUS SERVING — `index_stream(serving_out=...)`'s geometric
    twin: each micro-batch ends with an incremental
    `refresh_ivf_serving_layout` (the batch's inserts restage only
    their cells, takedowns merge into the delta-sized delete files),
    so the cell-partitioned layout follows the stream with no
    scheduled job. Replay-safe for free (the refresh only moves
    forward and its cell rewrite is exact-(id, gen) idempotent); a
    crash between the generation commit and the refresh costs one
    version of staleness, repaired by the next batch.

    Per batch: op > 0 rows assign against the frozen centroids
    (`ivf_assign` — one broadcast map job over the batch, the old
    state is never read) and land as `delta_g{batch+1}/assigned`;
    op < 0 rows write their ids to `delta_g{batch+1}/tombs`
    (vector columns may be NULL — only the id matters), applied by
    the read rule's anti-join semantics. Without `op_col` every row
    ingests. Every `compact_every` batches the generations fold and
    GC (`store.write_delta`)."""
    from patientdataintegration_spark.operators.similarity import ivf_assign

    latest_generation(store_dir)  # fail fast on an unseeded store

    vec_schema = (
        spark.read.option("pathGlobFilter", glob).parquet(source_dir).schema
    )

    def advance(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        g = int(batch_id) + 1
        if op_col is not None:
            # the takedown set stays LAZY here (measured r18): unlike
            # the index/components streams it had no checkpoint or
            # isEmpty job to replace, so a bounded driver collect only
            # ADDED a per-batch job (+~1 s on the q284 lane) — its two
            # consumers (the tombs delta write, the refresh's tombs
            # fold) are one batch-scan each either way
            deleted = (
                batch.filter(F.col(op_col) < 0)
                .select(F.col(id_col).cast("bigint").alias("neighbor_id"))
                .distinct()
            )
            ingest = batch.filter(F.col(op_col) > 0).drop(op_col)
        else:
            deleted = batch.select(
                F.col(id_col).cast("bigint").alias("neighbor_id")
            ).filter(F.lit(False))
            ingest = batch
        cent = read_ivf_centroids(s, store_dir)
        assigned_delta = ivf_assign(ingest, cent, id_col, vec_col)
        write_delta(
            s, store_dir, g, {"assigned": assigned_delta, "tombs": deleted},
            "tombs", compact_every, _fold,
        )
        if serving_out is not None:
            refresh_ivf_serving_layout(s, store_dir, serving_out)

    stream = (
        spark.readStream.schema(vec_schema)
        .format("parquet")
        .option("pathGlobFilter", glob)
        .load(source_dir)
    )
    query = (
        stream.writeStream.foreachBatch(advance)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return read_rowstore(
        spark, store_dir, "assigned", id_col="neighbor_id", marker="tombs"
    )
