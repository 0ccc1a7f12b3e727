"""Streaming maintained inverted index (`streaming/index`): raw
document files arrive, each micro-batch advances the persisted
(index, overflow) factorization through term-grain upsert
generations, and the final store CONVERGES to the from-scratch
rebuild over the net corpus — including across a checkpointed
restart and with takedowns riding the same batches (CRUD). The store
side mirrors the dedup store's contract: per-batch writes are
dirty-term-sized, compaction folds generations into a new base, GC
bounds disk."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from patientdataintegration_spark.streaming.index import (
    index_stream,
    read_index_store,
    seed_index_store,
)
from patientdataintegration_spark.streaming.store import latest_generation, store_disk_report

DOC_SCHEMA = "doc_id bigint, text string, op int"


def _rebuild(spark, rows, max_postings=2):
    from patientdataintegration_spark.operators.indexing import (
        inverted_index_with_overflow,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t, _op in rows], "doc_id bigint, text string"
    )
    return inverted_index_with_overflow(docs, min_df=1, max_postings=max_postings)


def _norm_index(df):
    return sorted(
        (r["term"], r["doc_freq"], tuple(r["postings"])) for r in df.collect()
    )


def _norm_overflow(df):
    return sorted((r["term"], r["doc"]) for r in df.collect())


def test_index_stream_crud_converges_across_restart(spark, tmp_path):
    """Two availableNow runs over a checkpointed restart: batch A
    ingests, batch B ingests AND takes down seed docs, batch-A docs
    and a SAME-BATCH ingest — the final (index, overflow) pair equals
    the rebuild over the net corpus, at-cap displacement and
    re-admission included."""
    src, store, ckpt = (str(tmp_path / p) for p in ("src", "store", "ckpt"))
    os.makedirs(src)
    os.makedirs(store)

    seed = [(1, "h x", 1), (2, "h", 1), (3, "h z", 1), (4, "z", 1)]
    idx0, of0 = _rebuild(spark, seed)
    seed_index_store(idx0, of0, store)
    # cap=2: 'h' seeds at postings [1,2], overflow [3]
    assert _norm_overflow(of0) == [("h", 3)]

    def run():
        return index_stream(
            spark, src, "*.parquet", store, ckpt,
            op_col="op", max_postings=2, compact_every=0,
        )

    # batch A: 'h' gains an overflow doc; 'q' is a brand-new term
    batch_a = [(5, "h q", 1), (6, "q", 1)]
    spark.createDataFrame(batch_a, DOC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    got_a = _norm_index(run())
    want_a_idx, want_a_of = _rebuild(spark, seed + batch_a)
    assert got_a == _norm_index(want_a_idx)
    assert _norm_overflow(read_index_store(spark, store, "overflow")) == (
        _norm_overflow(want_a_of)
    )
    assert latest_generation(store) == 1

    # batch B (restart): ingest 7 and 8; take down 2 (a VISIBLE at-cap
    # posting of 'h' -> re-admission), 5 (an overflow doc) and 8
    # (ingested THIS batch -> dies)
    batch_b = [
        (7, "h x", 1), (8, "z q", 1),
        (2, None, -1), (5, None, -1), (8, None, -1),
    ]
    spark.createDataFrame(batch_b, DOC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    got_b = run()
    net = [(1, "h x", 1), (3, "h z", 1), (4, "z", 1), (6, "q", 1), (7, "h x", 1)]
    want_b_idx, want_b_of = _rebuild(spark, net)
    assert _norm_index(got_b) == _norm_index(want_b_idx)
    assert _norm_overflow(read_index_store(spark, store, "overflow")) == (
        _norm_overflow(want_b_of)
    )
    bi = {r["term"]: r for r in got_b.collect()}
    assert bi["h"]["postings"] == [1, 3], "deleting 2 re-admits 3 off the overflow"
    assert bi["h"]["doc_freq"] == 3
    assert latest_generation(store) == 2

    # run 3: nothing new -> no batch, state generation unchanged
    assert _norm_index(run()) == _norm_index(got_b)
    assert latest_generation(store) == 2


def test_index_store_writes_scale_with_dirty_terms_not_vocabulary(spark, tmp_path):
    """A tiny batch against a large seeded store must write a
    generation orders below the base snapshot — the delta-cost
    argument, writes included (the dedup store's r12 lesson applied
    from birth)."""
    src, store, ckpt = (str(tmp_path / p) for p in ("src", "store", "ckpt"))
    os.makedirs(src)
    os.makedirs(store)

    # 20k docs over a 400-term vocabulary, 8 tokens each
    corpus = spark.range(0, 20000).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", *[((F.col("id") * (i + 3) + i) % 400).cast("string") for i in range(8)]
        ).alias("text"),
    )
    from patientdataintegration_spark.operators.indexing import (
        inverted_index_with_overflow,
    )

    idx0, of0 = inverted_index_with_overflow(corpus, min_df=1, max_postings=16)
    seed_index_store(idx0, of0, store)

    batch = [(100001 + i, f"t{i} t{i + 1}", 1) for i in range(6)]
    spark.createDataFrame(batch, DOC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    index_stream(
        spark, src, "*.parquet", store, ckpt,
        op_col="op", max_postings=16, compact_every=0,
    )
    report = store_disk_report(store)
    base = report["base_bytes"][0]
    delta = report["delta_bytes"][1]
    assert delta < base / 5, (
        f"delta generation ({delta} B) must be far below the base "
        f"({base} B) — writes scale with dirty terms, not the vocabulary"
    )


def test_index_compaction_folds_generations_and_gc_prunes(spark, tmp_path):
    """compact_every=2: generation 2 folds into a new base; GC keeps
    the newest two bases and the deltas above the older kept base,
    and the reconstruction still equals the rebuild."""
    src, store, ckpt = (str(tmp_path / p) for p in ("src", "store", "ckpt"))
    os.makedirs(src)
    os.makedirs(store)

    seed = [(1, "a b", 1), (2, "b c", 1)]
    idx0, of0 = _rebuild(spark, seed, max_postings=16)
    seed_index_store(idx0, of0, store)

    def run():
        return index_stream(
            spark, src, "*.parquet", store, ckpt,
            op_col="op", max_postings=16, compact_every=2,
        )

    b1 = [(3, "c d", 1)]
    spark.createDataFrame(b1, DOC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run()
    b2 = [(4, "d e", 1), (1, None, -1)]
    spark.createDataFrame(b2, DOC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    got = run()

    entries = sorted(
        e for e in os.listdir(store) if e.startswith(("base_", "delta_"))
    )
    assert entries == ["base_g0", "base_g2", "delta_g1", "delta_g2"], (
        "gen 2 compacts into a base; newest two bases + deltas above the "
        "older kept base survive"
    )
    net = [(2, "b c", 1), (3, "c d", 1), (4, "d e", 1)]
    want_idx, want_of = _rebuild(spark, net, max_postings=16)
    assert _norm_index(got) == _norm_index(want_idx)
    assert _norm_overflow(read_index_store(spark, store, "overflow")) == (
        _norm_overflow(want_of)
    )

    # the disk projection DOMINATES the measured footprint
    report = store_disk_report(store, compact_every=2)
    assert report["total_bytes"] <= report["projected_bound_bytes"]


def test_index_stream_unseeded_store_is_descriptive(spark, tmp_path):
    src, store, ckpt = (str(tmp_path / p) for p in ("src", "store", "ckpt"))
    os.makedirs(src)
    os.makedirs(store)
    with pytest.raises(ValueError, match="never seeded"):
        index_stream(spark, src, "*.parquet", store, ckpt)


def test_partial_generation_is_invisible_until_replay_heals_it(spark, tmp_path):
    """A crash between a generation's per-relation writes must not
    poison reads (r13 ADVICE): "terms" is written LAST as the commit
    marker, so a delta_g1 holding index/overflow but no terms is a
    crash remnant — reads at any version resolve to the pre-batch
    state, and the checkpoint replay then overwrites the partial
    generation idempotently."""
    from patientdataintegration_spark.streaming.store import delta_path

    src, store, ckpt = (str(tmp_path / p) for p in ("src", "store", "ckpt"))
    os.makedirs(src)
    os.makedirs(store)

    seed = [(1, "a b", 1), (2, "b c", 1)]
    idx0, of0 = _rebuild(spark, seed, max_postings=16)
    seed_index_store(idx0, of0, store)
    want_seed = _norm_index(read_index_store(spark, store, "index"))

    # simulate the crash: the batch wrote index and overflow, then
    # died before the terms commit marker
    fake_idx, fake_of = _rebuild(spark, [(9, "zz", 1)], max_postings=16)
    fake_idx.write.mode("overwrite").parquet(delta_path(store, 1, "index"))
    fake_of.write.mode("overwrite").parquet(delta_path(store, 1, "overflow"))

    # the uncommitted generation is invisible — both the version=None
    # read and an explicit read AT the partial version serve the seed
    assert _norm_index(read_index_store(spark, store, "index")) == want_seed
    assert (
        _norm_index(read_index_store(spark, store, "index", version=1))
        == want_seed
    )
    assert latest_generation(store, marker="terms") == 0

    # the replayed batch overwrites generation 1 and commits it
    batch = [(3, "c d", 1)]
    spark.createDataFrame(batch, DOC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    got = index_stream(
        spark, src, "*.parquet", store, ckpt,
        op_col="op", max_postings=16, compact_every=0,
    )
    want_idx, _ = _rebuild(spark, seed + batch, max_postings=16)
    assert _norm_index(got) == _norm_index(want_idx)
    assert latest_generation(store, marker="terms") == 1


def test_torn_marker_write_is_uncommitted(spark, tmp_path):
    """Spark's committer creates the output directory before job
    commit, so a crash DURING the marker write leaves a terms/ dir
    with no _SUCCESS — a bare isdir check would trust it and serve a
    torn generation (r14 ADVICE). Commitment requires the marker
    job's own _SUCCESS file."""
    from patientdataintegration_spark.streaming.store import delta_path

    store = str(tmp_path / "store")
    os.makedirs(store)
    seed = [(1, "a b", 1), (2, "b c", 1)]
    idx0, of0 = _rebuild(spark, seed, max_postings=16)
    seed_index_store(idx0, of0, store)
    want_seed = _norm_index(read_index_store(spark, store, "index"))

    fake_idx, fake_of = _rebuild(spark, [(9, "zz", 1)], max_postings=16)
    fake_idx.write.mode("overwrite").parquet(delta_path(store, 1, "index"))
    fake_of.write.mode("overwrite").parquet(delta_path(store, 1, "overflow"))
    # the crash-torn marker: terms/ written, then its _SUCCESS removed
    spark.createDataFrame([("zz",)], "term string").write.mode(
        "overwrite"
    ).parquet(delta_path(store, 1, "terms"))
    os.remove(os.path.join(delta_path(store, 1, "terms"), "_SUCCESS"))

    assert _norm_index(read_index_store(spark, store, "index")) == want_seed
    assert latest_generation(store, marker="terms") == 0


def test_partial_base_is_invisible_and_satellites_survive(spark, tmp_path):
    """A crash mid-compaction leaves a base_g{gen} with some
    relations missing; without the base sentinel every read resolves
    to it as the newest base and `_store_features` silently detects
    fewer satellites, permanently dropping tf/pos maintenance (r14
    ADVICE). With it, the partial base is invisible: reads serve the
    previous state and feature detection still sees both
    satellites."""
    from patientdataintegration_spark.operators.indexing import (
        doc_term_stats,
        positional_postings,
    )
    from patientdataintegration_spark.streaming.store import base_path
    from patientdataintegration_spark.streaming.index import (
        _store_features,
        read_index_stats,
    )

    store = str(tmp_path / "store")
    os.makedirs(store)
    seed = [(1, "a b", 1), (2, "b c", 1)]
    docs = spark.createDataFrame(
        [(i, t) for i, t, _ in seed], "doc_id bigint, text string"
    )
    idx0, of0 = _rebuild(spark, seed, max_postings=16)
    seed_index_store(
        idx0, of0, store,
        tf_init=doc_term_stats(docs),
        pos_init=positional_postings(docs),
    )
    want = _norm_index(read_index_store(spark, store, "index"))
    want_stats = read_index_stats(spark, store).collect()

    # crash mid-fold: base_g1 got index only — no overflow, no
    # satellites, and (crucially) no _COMMITTED sentinel
    fake_idx, _ = _rebuild(spark, [(9, "zz", 1)], max_postings=16)
    fake_idx.write.mode("overwrite").parquet(base_path(store, 1, "index"))

    assert _store_features(store) == ("tf", "pos")
    assert _norm_index(read_index_store(spark, store, "index")) == want
    assert read_index_stats(spark, store).collect() == want_stats
    assert latest_generation(store, marker="terms") == 0


def test_reingest_upsert_is_deterministic_batch_wins(spark, tmp_path):
    """Satellite re-ingest idempotency is a deterministic anti-join
    (store rows of a doc the batch carries lose to the batch rows),
    not a dropDuplicates whose survivor is partition-order luck (r14
    ADVICE): even under a contract-violating live re-ingest with
    CHANGED text, the maintained tf/pos rows equal the batch's —
    every run, every partitioning."""
    from patientdataintegration_spark.operators.indexing import (
        doc_term_stats,
        positional_postings,
    )

    src, store, ckpt = (str(tmp_path / p) for p in ("src", "store", "ckpt"))
    os.makedirs(src)
    os.makedirs(store)
    seed = [(1, "a b", 1), (2, "b", 1)]
    docs = spark.createDataFrame(
        [(i, t) for i, t, _ in seed], "doc_id bigint, text string"
    )
    idx0, of0 = _rebuild(spark, seed, max_postings=16)
    seed_index_store(
        idx0, of0, store,
        tf_init=doc_term_stats(docs),
        pos_init=positional_postings(docs),
    )

    # doc 1 re-ingests LIVE with different text (out of contract)
    batch = [(1, "a a c", 1)]
    spark.createDataFrame(batch, DOC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    index_stream(
        spark, src, "*.parquet", store, ckpt,
        op_col="op", max_postings=16, compact_every=0,
    )

    # the batch's vocabulary is the dirty set: on those terms the
    # batch rows win DETERMINISTICALLY — the old dropDuplicates left
    # the ("a", 1) survivor (tf 1 len 2 vs tf 2 len 3) to partition-
    # order luck. The doc's dropped term "b" is outside the dirty set
    # (a live re-ingest cannot dirty the terms it removed — that is
    # what the CDC contract's takedown-first rule exists for), so its
    # stale row is the violation's documented residue, identical
    # every run.
    tf = sorted(
        (r["term"], r["doc"], r["tf"], r["len_d"])
        for r in read_index_store(spark, store, "tf")
        .filter(F.col("doc") == 1)
        .collect()
    )
    assert tf == [("a", 1, 2, 3), ("b", 1, 1, 2), ("c", 1, 1, 3)]
    pos = sorted(
        (r["term"], r["doc"], r["pos"])
        for r in read_index_store(spark, store, "pos")
        .filter(F.col("doc") == 1)
        .collect()
    )
    assert pos == [
        ("a", 1, 1), ("a", 1, 2), ("b", 1, 2), ("c", 1, 3),
    ]


def test_fused_crud_repair_equals_extend_then_retract(spark):
    """`crud_inverted_index_delta` (the stream's one-pass CRUD repair)
    must be BIT-IDENTICAL to `extend_inverted_index_delta` followed by
    `retract_inverted_index_delta` over the lazily-composed
    post-insert state — same net dirty set, same repaired rows — on a
    battery covering at-cap displacement, overflow re-admission, a
    delete-only term, a brand-new term, and a SAME-BATCH
    ingest+takedown (which must end deleted)."""
    from patientdataintegration_spark.operators.indexing import (
        crud_inverted_index_delta,
        extend_inverted_index_delta,
        inverted_index_with_overflow,
        retract_inverted_index_delta,
    )

    # store: "hot" at cap (docs 1..2 in postings, 3..4 overflow),
    # "solo" owned by doc 3, "dead" owned by doc 5
    docs0 = spark.createDataFrame(
        [
            (1, "hot solo"),
            (2, "hot"),
            (3, "hot solo"),
            (4, "hot"),
            (5, "hot dead"),
        ],
        "doc_id bigint, text string",
    )
    index0, overflow0 = inverted_index_with_overflow(
        docs0, min_df=1, max_postings=2
    )
    index0 = index0.localCheckpoint()
    overflow0 = overflow0.localCheckpoint()
    # batch: doc 0 ingests (displaces at-cap postings; brand-new term
    # "new"); doc 6 ingests AND is taken down in the same batch; docs
    # 3 (overflow member + solo owner) and 5 (dead's only doc) leave
    batch = spark.createDataFrame(
        [(0, "hot new"), (6, "hot solo new")],
        "doc_id bigint, text string",
    )
    deleted = spark.createDataFrame(
        [(3,), (5,), (6,)], "doc_id bigint"
    )

    d_f, i_f, o_f = crud_inverted_index_delta(
        index0, overflow0, batch, deleted, max_postings=2
    )

    d1, i1, o1 = extend_inverted_index_delta(
        index0, overflow0, batch, max_postings=2
    )
    postins_index = index0.join(
        F.broadcast(d1), "term", "left_anti"
    ).unionByName(i1)
    postins_overflow = overflow0.join(
        F.broadcast(d1), "term", "left_anti"
    ).unionByName(o1)
    d2, i2, o2 = retract_inverted_index_delta(
        postins_index, postins_overflow, deleted, min_df=1, max_postings=2
    )
    dirty_ref = sorted(
        r["term"] for r in d1.unionByName(d2).distinct().collect()
    )
    index_ref = i2.unionByName(i1.join(F.broadcast(d2), "term", "left_anti"))
    overflow_ref = o2.unionByName(
        o1.join(F.broadcast(d2), "term", "left_anti")
    )

    assert sorted(r["term"] for r in d_f.collect()) == dirty_ref
    assert _norm_index(i_f) == _norm_index(index_ref)
    assert _norm_overflow(o_f) == _norm_overflow(overflow_ref)
    # the battery's own expectations, so a regression in BOTH paths
    # cannot hide: "dead" left the index; same-batch doc 6 is gone;
    # doc 3's departure re-admits the smallest displaced posting
    got = {r["term"]: (r["doc_freq"], tuple(r["postings"])) for r in i_f.collect()}
    assert "dead" not in got
    assert got["new"] == (1, (0,))
    assert got["solo"] == (1, (1,))
    assert got["hot"][0] == 4 and got["hot"][1] == (0, 1)
