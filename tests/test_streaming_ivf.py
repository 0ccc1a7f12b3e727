"""Streaming maintained IVF index (`streaming/ivf`): vector files
arrive, each micro-batch assigns ingests against the FROZEN coarse
quantizer (the old state is never read on the insert path) and
applies op-tagged takedowns as tombstones, and the final inverted
file CONVERGES to the assignment of the net corpus — across a
checkpointed restart, with a deleted vector unfindable through
search. Store mechanics (row-grain generations, compaction, GC,
disk bound) reuse the dedup store's rule."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from patientdataintegration_spark.streaming.ivf import (
    ivf_stream,
    read_ivf_centroids,
    seed_ivf_store,
)
from patientdataintegration_spark.streaming.store import latest_generation, store_disk_report

VEC_SCHEMA = "vec_id bigint, embedding array<double>, op int"


def _vecs(spark, rows):
    return spark.createDataFrame(rows, VEC_SCHEMA)


def _ivf_dir(out, relation):
    """Resolve an exported relation's physical directory through the
    layout meta's `dirs` map, the way readers do."""
    import json

    with open(os.path.join(out, "serving_meta.json")) as f:
        meta = json.load(f)
    return meta["dirs"][relation]


def _cell_files(out):
    """relpath -> (mtime, size) for every file under the exported
    `assigned` relation the meta references — the byte-identity
    witness for untouched cells, addressed relative to whichever
    directory the refresh staged."""
    rel = os.path.join(out, _ivf_dir(out, "assigned"))
    return {
        os.path.relpath(os.path.join(root, f), rel): (
            os.path.getmtime(os.path.join(root, f)),
            os.path.getsize(os.path.join(root, f)),
        )
        for root, _dirs, files in os.walk(rel)
        for f in files
        if os.path.basename(root).startswith("cell=")
    }


def _cells(df):
    return sorted((r["neighbor_id"], r["cell"]) for r in df.collect())


def test_ivf_stream_crud_converges_across_restart(spark, tmp_path):
    from patientdataintegration_spark.operators.similarity import (
        ivf_assign,
        ivf_index_exact,
        ivf_search,
    )

    src, store, ckpt = (str(tmp_path / p) for p in ("src", "store", "ckpt"))
    os.makedirs(src)
    os.makedirs(store)

    seed = [
        (1, [1.0, 0.0], 1), (2, [0.9, 0.1], 1),
        (3, [0.0, 1.0], 1), (4, [0.1, 0.9], 1),
    ]
    assigned0, centroids = ivf_index_exact(
        _vecs(spark, seed).drop("op"), n_cells=2, iterations=1
    )
    seed_ivf_store(assigned0, centroids, store)

    def run():
        return ivf_stream(
            spark, src, "*.parquet", store, ckpt, op_col="op", compact_every=0
        )

    batch_a = [(5, [0.95, 0.05], 1), (6, [0.05, 0.95], 1)]
    _vecs(spark, batch_a).coalesce(1).write.mode("append").parquet(src)
    got_a = run()
    cent = read_ivf_centroids(spark, store)
    want_a = ivf_assign(
        _vecs(spark, seed + batch_a).drop("op"), cent
    )
    assert _cells(got_a) == _cells(want_a)
    assert latest_generation(store) == 1

    # batch B across a restart: ingest 7/8, take down a seed doc (1),
    # a batch-A doc (5) and a SAME-BATCH ingest (8 -> dies)
    batch_b = [
        (7, [1.0, 0.01], 1), (8, [0.02, 1.0], 1),
        (1, None, -1), (5, None, -1), (8, None, -1),
    ]
    _vecs(spark, batch_b).coalesce(1).write.mode("append").parquet(src)
    got_b = run()
    net = [
        (2, [0.9, 0.1], 1), (3, [0.0, 1.0], 1), (4, [0.1, 0.9], 1),
        (6, [0.05, 0.95], 1), (7, [1.0, 0.01], 1),
    ]
    want_b = ivf_assign(_vecs(spark, net).drop("op"), cent)
    assert _cells(got_b) == _cells(want_b)
    assert latest_generation(store) == 2

    # a deleted vector is unfindable through probe+rerank search
    queries = spark.createDataFrame(
        [(100, [1.0, 0.0])], "vec_id bigint, embedding array<double>"
    )
    hits = ivf_search(queries, got_b, cent, k=10, n_probe=2)
    found = {r["neighbor_id"] for r in hits.collect()}
    assert found == {2, 3, 4, 6, 7}, "deleted 1/5/8 must be unfindable"

    # nothing new -> no batch, state unchanged
    assert _cells(run()) == _cells(got_b)
    assert latest_generation(store) == 2


def test_ivf_store_writes_scale_with_batch_not_corpus(spark, tmp_path):
    from patientdataintegration_spark.operators.similarity import ivf_index_exact

    src, store, ckpt = (str(tmp_path / p) for p in ("src", "store", "ckpt"))
    os.makedirs(src)
    os.makedirs(store)

    corpus = spark.range(0, 20000).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[((F.col("id") * (i + 3) + i) % 97).cast("double") for i in range(4)]
        ).alias("embedding"),
    )
    assigned0, centroids = ivf_index_exact(corpus, n_cells=4, iterations=1)
    seed_ivf_store(assigned0, centroids, store)

    batch = [(100001 + i, [float(i), 1.0, 2.0, 3.0], 1) for i in range(5)]
    _vecs(spark, batch).coalesce(1).write.mode("append").parquet(src)
    ivf_stream(spark, src, "*.parquet", store, ckpt, op_col="op", compact_every=0)
    report = store_disk_report(store)
    base = report["base_bytes"][0]
    delta = report["delta_bytes"][1]
    assert delta < base / 5, (
        f"delta generation ({delta} B) must be far below the base "
        f"({base} B) — writes scale with the batch, not the corpus"
    )


def test_ivf_compaction_folds_generations_and_gc_prunes(spark, tmp_path):
    from patientdataintegration_spark.operators.similarity import (
        ivf_assign,
        ivf_index_exact,
    )

    src, store, ckpt = (str(tmp_path / p) for p in ("src", "store", "ckpt"))
    os.makedirs(src)
    os.makedirs(store)

    seed = [(1, [1.0, 0.0], 1), (2, [0.0, 1.0], 1)]
    assigned0, centroids = ivf_index_exact(
        _vecs(spark, seed).drop("op"), n_cells=2, iterations=1
    )
    seed_ivf_store(assigned0, centroids, store)

    def run():
        return ivf_stream(
            spark, src, "*.parquet", store, ckpt, op_col="op", compact_every=2
        )

    _vecs(spark, [(3, [0.8, 0.2], 1)]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run()
    _vecs(spark, [(4, [0.2, 0.8], 1), (1, None, -1)]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    got = run()

    entries = sorted(
        e for e in os.listdir(store) if e.startswith(("base_", "delta_"))
    )
    assert entries == ["base_g0", "base_g2", "delta_g1", "delta_g2"]
    # the frozen centroid table survives GC
    cent = read_ivf_centroids(spark, store)
    assert cent.count() == 2

    net = [(2, [0.0, 1.0], 1), (3, [0.8, 0.2], 1), (4, [0.2, 0.8], 1)]
    want = ivf_assign(_vecs(spark, net).drop("op"), cent)
    assert _cells(got) == _cells(want)

    report = store_disk_report(store, compact_every=2)
    assert report["total_bytes"] <= report["projected_bound_bytes"]


def test_partial_generation_is_invisible_to_ivf_store_reads(spark, tmp_path):
    """An IVF generation commits only when its `_COMMITTED` sentinel
    is stamped after every relation (r13 ADVICE): a delta_g1 holding
    assigned rows but no tombs and no sentinel is a crash remnant, so
    reads resolve to the pre-batch state until the replayed batch
    overwrites it."""
    from patientdataintegration_spark.operators.similarity import (
        ivf_index_exact,
    )
    from patientdataintegration_spark.streaming.store import delta_path, read_rowstore

    store = str(tmp_path / "store")
    os.makedirs(store)
    seed = [(1, [1.0, 0.0], 1), (2, [0.0, 1.0], 1)]
    assigned0, centroids = ivf_index_exact(
        _vecs(spark, seed).drop("op"), n_cells=2, iterations=1
    )
    seed_ivf_store(assigned0, centroids, store)
    want = sorted(
        r["neighbor_id"]
        for r in read_rowstore(spark, store, "assigned", id_col="neighbor_id").collect()
    )

    # crash remnant: assigned rows written, no tombs, no sentinel
    assigned0.withColumn(
        "neighbor_id", F.col("neighbor_id") + 100
    ).write.parquet(delta_path(store, 1, "assigned"))

    got = sorted(
        r["neighbor_id"]
        for r in read_rowstore(spark, store, "assigned", id_col="neighbor_id").collect()
    )
    assert got == want
    assert latest_generation(store) == 0


def test_ivf_serving_export_prunes_to_probe_cells(spark, tmp_path):
    """The IVF serving export (q294's machinery): the exported
    layout at the pinned version equals the maintained inverted
    file, the driver-side probe planner (`ivf_probe_cells_py`)
    yields exactly the cells `ivf_search` would probe, the pruned
    scan carries the cell IN-list as a PARTITION filter, and search
    over the pruned partitions equals search over the full relation
    — takedowns already folded in."""
    import re

    from patientdataintegration_spark.operators.similarity import (
        ivf_index_exact,
        ivf_search,
    )
    from patientdataintegration_spark.plans.inspect import explain_str
    from patientdataintegration_spark.streaming.store import read_rowstore
    from patientdataintegration_spark.streaming.ivf import (
        export_ivf_serving_layout,
        ivf_probe_cells_py,
        read_ivf_serving,
    )

    src, store, ckpt = (str(tmp_path / p) for p in ("src", "store", "ckpt"))
    os.makedirs(src)
    os.makedirs(store)
    seed = [
        (1, [1.0, 0.0], 1), (2, [0.9, 0.1], 1),
        (3, [0.0, 1.0], 1), (4, [0.1, 0.9], 1),
        (5, [-1.0, 0.0], 1), (6, [-0.9, -0.1], 1),
        (7, [0.0, -1.0], 1), (8, [0.5, 0.5], 1),
    ]
    assigned0, centroids = ivf_index_exact(
        _vecs(spark, seed).drop("op"), n_cells=4, iterations=1
    )
    seed_ivf_store(assigned0, centroids, store)
    batch = [(9, [0.8, 0.2], 1), (10, [-0.1, -0.9], 1), (2, None, -1)]
    _vecs(spark, batch).coalesce(1).write.mode("append").parquet(src)
    ivf_stream(
        spark, src, "*.parquet", store, ckpt, op_col="op", compact_every=0
    )

    out = str(tmp_path / "export")
    assert export_ivf_serving_layout(spark, store, out) == 1

    maintained = read_rowstore(spark, store, "assigned", id_col="neighbor_id")
    exported = spark.read.parquet(os.path.join(out, _ivf_dir(out, "assigned")))
    assert _cells(exported) == _cells(maintained)

    queries = spark.createDataFrame(
        [(100, [0.95, 0.05]), (101, [-0.2, -0.8])],
        "vec_id bigint, embedding array<double>",
    )
    cents = [
        (r["cell"], [float(x) for x in r["centroid"]])
        for r in spark.read.parquet(os.path.join(out, _ivf_dir(out, "centroids"))).collect()
    ]
    # n_probe=1: the planner's cell choice must match the search's
    # argmin exactly (same fold order, same tie rule) — a superset
    # by construction at larger n_probe
    cells = ivf_probe_cells_py(
        [[0.95, 0.05], [-0.2, -0.8]], cents, n_probe=1
    )
    assigned, cdf = read_ivf_serving(spark, out, cells)
    plan = explain_str(assigned)
    m = re.search(r"PartitionFilters: \[cell#\d+(?:L)? IN \(([\d,]+)\)\]", plan)
    assert m, f"pruned IVF scan must carry a cell IN partition filter:\n{plan}"
    assert sorted(int(x) for x in m.group(1).split(",")) == cells

    got = ivf_search(queries, assigned, cdf, k=2, n_probe=1)
    want = ivf_search(
        queries, maintained, read_ivf_centroids(spark, store), k=2, n_probe=1
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # the deleted vector is unfindable through the export
    assert exported.filter(F.col("neighbor_id") == 2).count() == 0


def test_ivf_refresh_is_incremental_and_value_invisible(spark, tmp_path):
    """`refresh_ivf_serving_layout` — the merge-on-read refresh:
    after a second CRUD wave, (a) only the cells receiving new
    assignments rewrite (untouched cell part files stay
    byte-identical), (b) a takedown in an UNTOUCHED cell is served
    through the delete-file side relation without rewriting that
    cell, (c) a re-insert above its own tombstone lives, and (d)
    search over the refreshed pruned layout equals search over the
    maintained store at the new version."""
    from patientdataintegration_spark.operators.similarity import (
        ivf_index_exact,
        ivf_search,
    )
    from patientdataintegration_spark.streaming.store import read_rowstore
    from patientdataintegration_spark.streaming.ivf import (
        export_ivf_serving_layout,
        refresh_ivf_serving_layout,
        read_ivf_serving,
    )

    src, store, ckpt = (str(tmp_path / p) for p in ("src", "store", "ckpt"))
    os.makedirs(src)
    os.makedirs(store)
    # four well-separated directions -> four stable cells
    seed = [
        (1, [1.0, 0.0], 1), (2, [0.9, 0.1], 1),
        (3, [0.0, 1.0], 1), (4, [0.1, 0.9], 1),
        (5, [-1.0, 0.0], 1), (6, [-0.9, -0.1], 1),
        (7, [0.0, -1.0], 1), (8, [0.5, 0.5], 1),
    ]
    assigned0, centroids = ivf_index_exact(
        _vecs(spark, seed).drop("op"), n_cells=4, iterations=1
    )
    seed_ivf_store(assigned0, centroids, store)
    # batch 1 -> generation 1; export pins it
    _vecs(spark, [(9, [0.8, 0.2], 1)]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    ivf_stream(
        spark, src, "*.parquet", store, ckpt, op_col="op", compact_every=0
    )
    out = str(tmp_path / "export")
    assert export_ivf_serving_layout(spark, store, out) == 1

    all_cells = sorted(
        r["cell"]
        for r in spark.read.parquet(os.path.join(out, _ivf_dir(out, "centroids")))
        .select("cell")
        .collect()
    )
    before = _cell_files(out)

    # batch 2 -> generation 2: an ingest near +x and takedowns of
    # vec 3 (the +y cell, which receives NO new assignment) and
    # vec 5; batch 3 -> generation 3: vec 5 re-inserts ABOVE its
    # tombstone, moved to the -y direction (a same-batch re-insert
    # would die by the store's own rule)
    batch2 = [(10, [0.95, 0.05], 1), (3, None, -1), (5, None, -1)]
    _vecs(spark, batch2).coalesce(1).write.mode("append").parquet(src)
    ivf_stream(
        spark, src, "*.parquet", store, ckpt, op_col="op", compact_every=0
    )
    _vecs(spark, [(5, [-0.05, -0.95], 1)]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    ivf_stream(
        spark, src, "*.parquet", store, ckpt, op_col="op", compact_every=0
    )

    res = refresh_ivf_serving_layout(spark, store, out)
    assert res["mode"] == "incremental"
    assert res["version"] == 3

    maintained = read_rowstore(spark, store, "assigned", id_col="neighbor_id")
    served, cdf = read_ivf_serving(spark, out, all_cells)
    assert _cells(served) == _cells(maintained)
    # (b) vec 3's cell was never rewritten, yet 3 is gone (MoR tombs)
    assert served.filter(F.col("neighbor_id") == 3).count() == 0
    # (c) vec 5's re-insert above its tombstone lives, in its new cell
    assert served.filter(F.col("neighbor_id") == 5).count() == 1
    # (a) untouched cells' files are byte-identical
    dirty = set(res["dirty_cells"])
    untouched = [
        p
        for p in before
        if int(p.split("cell=")[1].split(os.sep)[0]) not in dirty
    ]
    assert untouched, "test needs at least one untouched cell"
    after = _cell_files(out)
    for p in untouched:
        assert after.get(p) == before[p]
    assert len(dirty) < len(all_cells)

    # (d) search parity at the refreshed version
    queries = spark.createDataFrame(
        [(100, [0.9, 0.1]), (101, [0.0, 1.0]), (102, [-0.1, -0.9])],
        "vec_id bigint, embedding array<double>",
    )
    got = ivf_search(queries, served, cdf, k=2, n_probe=4)
    want = ivf_search(
        queries, maintained, read_ivf_centroids(spark, store), k=2, n_probe=4
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )

    # noop at the same version; backward refresh refuses
    assert refresh_ivf_serving_layout(spark, store, out)["mode"] == "noop"
    import pytest

    with pytest.raises(ValueError):
        refresh_ivf_serving_layout(spark, store, out, version=1)


def test_ivf_refresh_falls_back_to_full_after_gc(spark, tmp_path):
    """When compaction+GC folded the generations the diff needs, the
    refresh takes the FULL re-export path (correct, just not
    incremental) and resets the delete-file relation to empty at the
    new version — the natural fold point."""
    from patientdataintegration_spark.operators.similarity import (
        ivf_index_exact,
    )
    from patientdataintegration_spark.streaming.store import read_rowstore
    from patientdataintegration_spark.streaming.ivf import (
        compact_ivf_store,
        export_ivf_serving_layout,
        refresh_ivf_serving_layout,
        read_ivf_serving,
    )

    src, store, ckpt = (str(tmp_path / p) for p in ("src", "store", "ckpt"))
    os.makedirs(src)
    os.makedirs(store)
    seed = [(1, [1.0, 0.0], 1), (3, [0.0, 1.0], 1), (5, [-1.0, 0.0], 1)]
    assigned0, centroids = ivf_index_exact(
        _vecs(spark, seed).drop("op"), n_cells=2, iterations=1
    )
    seed_ivf_store(assigned0, centroids, store)
    _vecs(spark, [(9, [0.8, 0.2], 1)]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    ivf_stream(
        spark, src, "*.parquet", store, ckpt, op_col="op", compact_every=0
    )
    out = str(tmp_path / "export")
    assert export_ivf_serving_layout(spark, store, out) == 1

    for i, batch in enumerate(
        ([(10, [0.9, 0.1], 1)], [(11, [-0.9, 0.1], 1), (1, None, -1)])
    ):
        _vecs(spark, batch).coalesce(1).write.mode("append").parquet(src)
        ivf_stream(
            spark, src, "*.parquet", store, ckpt, op_col="op",
            compact_every=0,
        )
        compact_ivf_store(spark, store)

    res = refresh_ivf_serving_layout(spark, store, out)
    assert res["mode"] == "full"
    assert res["version"] == 3
    maintained = read_rowstore(spark, store, "assigned", id_col="neighbor_id")
    cells = sorted(
        r["cell"]
        for r in spark.read.parquet(os.path.join(out, _ivf_dir(out, "centroids")))
        .select("cell")
        .collect()
    )
    served, _cdf = read_ivf_serving(spark, out, cells)
    assert _cells(served) == _cells(maintained)
    assert served.filter(F.col("neighbor_id") == 1).count() == 0


def test_ivf_continuous_serving_follows_the_stream(spark, tmp_path):
    """`ivf_stream(serving_out=...)` — continuous serving for the ANN
    store: each micro-batch ends with the incremental merge-on-read
    refresh, so after every run the layout serves the store's newest
    version; an empty restart advances nothing."""
    from patientdataintegration_spark.operators.similarity import (
        ivf_index_exact,
        ivf_search,
    )
    from patientdataintegration_spark.streaming.store import read_rowstore
    from patientdataintegration_spark.streaming.ivf import (
        export_ivf_serving_layout,
        read_ivf_serving,
    )
    from patientdataintegration_spark.streaming.serving import read_serving_meta

    src, store, ckpt = (str(tmp_path / p) for p in ("src", "store", "ckpt"))
    os.makedirs(src)
    os.makedirs(store)
    seed = [
        (1, [1.0, 0.0], 1), (3, [0.0, 1.0], 1),
        (5, [-1.0, 0.0], 1), (7, [0.0, -1.0], 1),
    ]
    assigned0, centroids = ivf_index_exact(
        _vecs(spark, seed).drop("op"), n_cells=4, iterations=1
    )
    seed_ivf_store(assigned0, centroids, store)
    out = str(tmp_path / "export")
    assert export_ivf_serving_layout(spark, store, out) == 0

    def run():
        return ivf_stream(
            spark, src, "*.parquet", store, ckpt, op_col="op",
            compact_every=0, serving_out=out,
        )

    _vecs(spark, [(9, [0.9, 0.1], 1)]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run()
    assert read_serving_meta(out)["version"] == 1

    _vecs(spark, [(10, [-0.1, -0.9], 1), (3, None, -1)]).coalesce(
        1
    ).write.mode("append").parquet(src)
    run()
    assert read_serving_meta(out)["version"] == 2

    maintained = read_rowstore(spark, store, "assigned", id_col="neighbor_id")
    cells = sorted(r["cell"] for r in centroids.select("cell").collect())
    served, cdf = read_ivf_serving(spark, out, cells)
    assert _cells(served) == _cells(maintained)
    assert served.filter(F.col("neighbor_id") == 3).count() == 0

    queries = spark.createDataFrame(
        [(100, [0.8, 0.2]), (101, [0.1, 0.9])],
        "vec_id bigint, embedding array<double>",
    )
    got = ivf_search(queries, served, cdf, k=2, n_probe=4)
    want = ivf_search(
        queries, maintained, read_ivf_centroids(spark, store), k=2, n_probe=4
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )

    # empty restart: version holds
    run()
    assert read_serving_meta(out)["version"] == 2


def test_ivf_full_export_crash_before_flip_keeps_old_version(
    spark, tmp_path, monkeypatch
):
    """The staged IVF full export (r15 ADVICE): assigned/centroids/
    tombs all write to fresh version-tagged directories and the meta
    flips LAST, so a crash anywhere before the flip — including the
    GC-triggered full fallback firing INLINE from a live stream —
    leaves the old version serving from intact old directories. The
    retry lands cleanly. The incremental refresh stages the same way:
    a crash before its flip leaves the dirty cell's old rows serving,
    and the retry still takes the incremental path."""
    import patientdataintegration_spark.streaming.serving as sv
    import pytest
    from patientdataintegration_spark.operators.similarity import (
        ivf_index_exact,
    )
    from patientdataintegration_spark.streaming.ivf import (
        export_ivf_serving_layout,
        read_ivf_serving,
        refresh_ivf_serving_layout,
        seed_ivf_store,
    )

    src, store, ckpt = (str(tmp_path / p) for p in ("src", "store", "ckpt"))
    os.makedirs(src)
    os.makedirs(store)
    seed = [
        (1, [1.0, 0.0], 1), (2, [0.9, 0.1], 1),
        (3, [0.0, 1.0], 1), (4, [0.1, 0.9], 1),
    ]
    assigned0, centroids = ivf_index_exact(
        _vecs(spark, seed).drop("op"), n_cells=2, iterations=1
    )
    seed_ivf_store(assigned0, centroids, store)
    out = str(tmp_path / "export")
    assert export_ivf_serving_layout(spark, store, out) == 0
    all_cells = sorted(
        r["cell"]
        for r in spark.read.parquet(
            os.path.join(out, _ivf_dir(out, "centroids"))
        ).collect()
    )
    served0, _c = read_ivf_serving(spark, out, all_cells)
    want_v0 = _cells(served0)

    # advance the store one generation
    _vecs(spark, [(5, [-1.0, 0.0], 1)]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    ivf_stream(
        spark, src, "*.parquet", store, ckpt, op_col="op", compact_every=0
    )

    real_write = sv.write_serving_meta

    def crash(*a, **kw):
        raise RuntimeError("simulated crash before the meta flip")

    monkeypatch.setattr(sv, "write_serving_meta", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        export_ivf_serving_layout(spark, store, out, version=1)
    monkeypatch.setattr(sv, "write_serving_meta", real_write)

    # old meta, old dirs, old answers — the crashed attempt invisible
    served_after_crash, _c = read_ivf_serving(spark, out, all_cells)
    assert _cells(served_after_crash) == want_v0
    assert _ivf_dir(out, "assigned") == "assigned_v0"

    # retry: clean flip to v1, vector 5 now served
    assert export_ivf_serving_layout(spark, store, out, version=1) == 1
    assert _ivf_dir(out, "assigned") == "assigned_v1"
    served1, _c = read_ivf_serving(spark, out, all_cells)
    assert (5, ) not in {(i,) for i, _cell in want_v0}
    want_v1 = _cells(served1)
    assert 5 in {i for i, _cell in want_v1}

    # a second generation inserts into an existing (+x) cell; the
    # refresh crashes at its meta flip
    _vecs(spark, [(6, [0.95, 0.05], 1)]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    ivf_stream(
        spark, src, "*.parquet", store, ckpt, op_col="op", compact_every=0
    )
    monkeypatch.setattr(sv, "write_serving_meta", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        refresh_ivf_serving_layout(spark, store, out)
    monkeypatch.setattr(sv, "write_serving_meta", real_write)

    # the dirty cell was never rewritten in place: v1's answer serves
    served_after_refresh_crash, _c = read_ivf_serving(spark, out, all_cells)
    assert _cells(served_after_refresh_crash) == want_v1
    res = refresh_ivf_serving_layout(spark, store, out)
    assert res["mode"] == "incremental" and res["version"] == 2
    assert 6 in {i for i, _cell in _cells(read_ivf_serving(
        spark, out, all_cells
    )[0])}


def test_publish_gc_keeps_dirs_the_new_meta_references(tmp_path):
    """`serving.publish` (no Spark): with keep_old_versions=0 the
    post-flip GC removes every superseded directory the new meta does
    not reference, but never one it still references, whatever its
    tag — an IVF refresh keeps serving the export's `centroids`
    directory."""
    from patientdataintegration_spark.streaming.serving import (
        publish,
        read_serving_meta,
        write_serving_meta,
    )

    out = str(tmp_path / "export")
    for d in ("assigned_v1", "centroids_v1", "tombs_v1",
              "assigned_v2", "tombs_v2"):
        os.makedirs(os.path.join(out, d))
    write_serving_meta(out, {"version": 1, "dirs": {
        "assigned": "assigned_v1", "centroids": "centroids_v1",
        "tombs": "tombs_v1",
    }})
    new = {"version": 2, "dirs": {
        "assigned": "assigned_v2", "centroids": "centroids_v1",
        "tombs": "tombs_v2",
    }}
    publish(out, new, keep_old_versions=0)
    assert read_serving_meta(out) == new
    # centroids_v1 is older than every retained tag but referenced
    assert os.path.isdir(os.path.join(out, "centroids_v1"))
    # the superseded, unreferenced v1 relations are gone
    assert sorted(os.listdir(out)) == [
        "assigned_v2", "centroids_v1", "serving_meta.json", "tombs_v2"
    ]


def test_serving_readers_resolve_the_meta_once(spark, tmp_path, monkeypatch):
    """Every serving reader reads the layout meta ONCE and resolves
    all the relations it pairs through it: a reader that re-read the
    meta per relation could, racing a refresh's flip, pair one
    version's tombstones (IVF) or bucket count (BM25) with the next
    version's rows. Counted on empty relation directories, so no job
    runs."""
    from patientdataintegration_spark.streaming import index, ivf, serving

    calls = []
    real = serving.read_serving_meta

    def counting(out_dir):
        calls.append(out_dir)
        return real(out_dir)

    for mod in (serving, index, ivf):
        monkeypatch.setattr(mod, "read_serving_meta", counting)

    ivf_out = str(tmp_path / "ivf")
    dirs = {n: f"{n}_v1" for n in ("assigned", "centroids", "tombs")}
    for d in dirs.values():
        os.makedirs(os.path.join(ivf_out, d))
    serving.write_serving_meta(ivf_out, {"version": 1, "dirs": dirs})
    ivf.read_ivf_serving(spark, ivf_out, [0, 1])
    assert len(calls) == 1, "read_ivf_serving"

    bm25_out = str(tmp_path / "bm25")
    os.makedirs(os.path.join(bm25_out, "tf_v1"))
    serving.write_serving_meta(bm25_out, {
        "version": 1, "n_buckets": 4, "relations": ["tf"],
        "dirs": {"tf": "tf_v1"},
    })
    calls.clear()
    index.read_serving_relation(spark, bm25_out, "tf", ["a", "b"])
    assert len(calls) == 1, "read_serving_relation"


def test_ivf_export_retention_window(spark, tmp_path):
    """`keep_old_versions` on the IVF export (the index twin's
    retention contract): a re-export with keep_old_versions=1 retains
    the previous version's assigned/centroids/tombs directories for
    in-flight readers; the next export rolls the window."""
    from patientdataintegration_spark.operators.similarity import (
        ivf_index_exact,
    )
    from patientdataintegration_spark.streaming.ivf import (
        export_ivf_serving_layout,
        seed_ivf_store,
    )

    src, store, ckpt = (str(tmp_path / p) for p in ("src", "store", "ckpt"))
    os.makedirs(src)
    os.makedirs(store)
    seed = [(1, [1.0, 0.0], 1), (2, [0.0, 1.0], 1)]
    assigned0, centroids = ivf_index_exact(
        _vecs(spark, seed).drop("op"), n_cells=2, iterations=1
    )
    seed_ivf_store(assigned0, centroids, store)
    out = str(tmp_path / "export")
    assert export_ivf_serving_layout(spark, store, out) == 0

    for batch, ver in [((3, [0.9, 0.1], 1), 1), ((4, [0.1, 0.9], 1), 2)]:
        _vecs(spark, [batch]).coalesce(1).write.mode("append").parquet(src)
        ivf_stream(
            spark, src, "*.parquet", store, ckpt, op_col="op",
            compact_every=0,
        )
        assert export_ivf_serving_layout(
            spark, store, out, version=ver, keep_old_versions=1
        ) == ver

    names = set(os.listdir(out))
    # window of 1: v2 (current) + v1 retained, v0 rolled out
    assert {"assigned_v1", "assigned_v2", "centroids_v1",
            "centroids_v2", "tombs_v1", "tombs_v2"} <= names
    assert not any(n.endswith("_v0") for n in names)
