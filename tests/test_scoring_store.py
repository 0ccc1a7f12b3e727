"""The index store's SERVING satellites (r13 verdict items 1+2): the
maintained `tf` (+ 1-row `stats`) and `pos` relations ride the same
term-grain upsert generations as the (index, overflow) core, and the
serving operators (`bm25_from_store`, `phrase_retrieval_nterm` over
the maintained positions) answer retrieval queries WITHOUT touching
the raw corpus — pinned here structurally (the served plan's input
files are store files only) and semantically (served == corpus
recompute after full CRUD, bit-identical)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from patientdataintegration_spark.operators.indexing import (
    bm25_from_store,
    bm25_topk,
    corpus_stats,
    doc_term_stats,
    inverted_index_with_overflow,
    phrase_retrieval_nterm,
    positional_postings,
)
from patientdataintegration_spark.streaming.index import (
    compact_index_store,
    export_serving_layout,
    index_stream,
    read_index_stats,
    read_index_store,
    read_serving_relation,
    seed_index_store,
)

DOC_SCHEMA = "doc_id bigint, text string, op int"


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t) for i, t, _op in rows], "doc_id bigint, text string"
    )


def _seed(spark, store, rows, max_postings=16):
    docs = _docs(spark, rows)
    idx0, of0 = inverted_index_with_overflow(
        docs, min_df=1, max_postings=max_postings
    )
    seed_index_store(
        idx0, of0, store,
        tf_init=doc_term_stats(docs),
        pos_init=positional_postings(docs),
    )


def _norm(df):
    return sorted(map(tuple, df.collect()))


SEED = [(1, "a b c a", 1), (2, "b c d", 1), (3, "a a a", 1)]
BATCH_A = [(4, "c d e a b c", 1), (5, "e f", 1)]
# batch B: ingest 6; re-ingest 4 (identical content — idempotent);
# take down 2 (seed), 5 (batch A) and 7 (ingested THIS batch — dies)
BATCH_B = [
    (6, "f a", 1), (4, "c d e a b c", 1), (7, "g g", 1),
    (2, None, -1), (5, None, -1), (7, None, -1),
]
NET = [(1, "a b c a", 1), (3, "a a a", 1), (4, "c d e a b c", 1), (6, "f a", 1)]


def _run_crud(spark, tmp_path, compact_every=0):
    src, store, ckpt = (str(tmp_path / p) for p in ("src", "store", "ckpt"))
    os.makedirs(src)
    os.makedirs(store)
    _seed(spark, store, SEED)

    def run():
        return index_stream(
            spark, src, "*.parquet", store, ckpt,
            op_col="op", max_postings=16, compact_every=compact_every,
        )

    spark.createDataFrame(BATCH_A, DOC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run()
    spark.createDataFrame(BATCH_B, DOC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run()
    return store


def test_satellites_converge_to_net_corpus_recompute(spark, tmp_path):
    """After seed + two CRUD batches across a checkpointed restart
    (re-ingest, same-batch ingest+takedown, seed/batch takedowns),
    every satellite equals its from-scratch recompute over the net
    corpus — rows AND the exact integer stats marginal."""
    store = _run_crud(spark, tmp_path)
    net_docs = _docs(spark, NET)
    want_tf = doc_term_stats(net_docs)
    want_pos = positional_postings(net_docs)
    assert _norm(read_index_store(spark, store, "tf")) == _norm(want_tf)
    assert _norm(read_index_store(spark, store, "pos")) == _norm(want_pos)
    assert _norm(read_index_stats(spark, store)) == _norm(
        corpus_stats(want_tf)
    )


def test_bm25_served_from_store_equals_corpus_recompute(spark, tmp_path):
    """`bm25_from_store` over the maintained (tf, stats) ==
    `bm25_topk` over the net corpus, BIT-identical — the shared
    `_bm25_impact` tree plus exactly-maintained integer inputs."""
    store = _run_crud(spark, tmp_path)
    queries = spark.createDataFrame(
        [(10, "a c"), (11, "f"), (12, "zz")], "query_id bigint, text string"
    )
    served = bm25_from_store(
        read_index_store(spark, store, "tf"),
        read_index_stats(spark, store),
        queries,
        k=3,
    )
    recomputed = bm25_topk(_docs(spark, NET), queries, k=3)
    assert _norm(served) == _norm(recomputed)


def test_bm25_serving_plan_reads_only_store_files(spark, tmp_path):
    """The r13 verdict's demanded plan proof: the served query's
    input files all live under the store — the corpus is never
    scanned, never re-tokenized. The corpus parquet exists on disk
    beside the store to make the assertion non-vacuous."""
    corpus_path = str(tmp_path / "corpus.parquet")
    _docs(spark, SEED + BATCH_A).write.parquet(corpus_path)
    store = _run_crud(spark, tmp_path)
    queries = spark.createDataFrame(
        [(10, "a c")], "query_id bigint, text string"
    )
    served = bm25_from_store(
        read_index_store(spark, store, "tf"),
        read_index_stats(spark, store),
        queries,
        k=3,
    )
    files = served.inputFiles()
    assert files, "the served plan must read the persisted store"
    for f in files:
        assert "/store/" in f, f"non-store input in serving plan: {f}"
        assert "corpus.parquet" not in f


def test_phrases_served_from_maintained_positions(spark, tmp_path):
    """N-term phrases answered from the maintained `pos` relation
    equal the recompute over the net corpus — including a phrase
    whose only hits were deleted."""
    store = _run_crud(spark, tmp_path)
    phrases = spark.createDataFrame(
        [(1, ["a", "b", "c"]), (2, ["a", "a", "a"]), (3, ["e", "f"])],
        "phrase_id bigint, terms array<string>",
    )
    served = phrase_retrieval_nterm(
        read_index_store(spark, store, "pos"), phrases
    )
    want = phrase_retrieval_nterm(positional_postings(_docs(spark, NET)), phrases)
    got = _norm(served)
    assert got == _norm(want)
    # 'e f' lived only in deleted doc 5 — erased from serving
    assert all(pid != 3 for pid, _d, _p in got)
    # 'a a a' survives only in doc 3, whose single start is 1
    assert [(d, p) for pid, d, p in got if pid == 2] == [(3, 1)]


def test_nterm_phrase_overlap_and_convention_battery(spark):
    """The adversarial battery the r13 verdict asked for: "a a a"
    matched against "a a a a" counts BOTH starts; mixed-length phrase
    batches resolve per-phrase; runs of separators (empty tokens)
    break adjacency because positions are assigned before the
    empty-token filter."""
    docs = spark.createDataFrame(
        [(1, "a a a a"), (2, "x a  a a"), (3, "p q r s")],
        "doc_id bigint, text string",
    )
    pos = positional_postings(docs)
    phrases = spark.createDataFrame(
        [(1, ["a", "a", "a"]), (2, ["p", "q", "r", "s"]), (3, ["q", "p"])],
        "phrase_id bigint, terms array<string>",
    )
    got = _norm(phrase_retrieval_nterm(pos, phrases))
    # doc 2 is "x a <gap> a a": the double space breaks adjacency at
    # pos 3, so 'a a a' does NOT match there
    assert got == [(1, 1, 1), (1, 1, 2), (2, 3, 1)]


def test_offline_compaction_job_keeps_ingest_delta_sized(spark, tmp_path):
    """The r13 verdict's item 5: with inline compaction OFF, the
    separate `compact_index_store` job folds every maintained
    relation (satellites + stats included) into a new base, GC keeps
    the replay window, reads straddling the fold still converge —
    and the NEXT ingest batch still writes a delta-generation orders
    below the base (ingest never pays the fold)."""
    from patientdataintegration_spark.streaming.store import store_disk_report

    src, store, ckpt = (str(tmp_path / p) for p in ("src", "store", "ckpt"))
    os.makedirs(src)
    os.makedirs(store)
    # a store big enough that base >> delta is measurable
    corpus = spark.range(0, 4000).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[((F.col("id") * (i + 3) + i) % 200).cast("string") for i in range(8)],
        ).alias("text"),
    )
    idx0, of0 = inverted_index_with_overflow(corpus, min_df=1, max_postings=16)
    seed_index_store(
        idx0, of0, store,
        tf_init=doc_term_stats(corpus),
        pos_init=positional_postings(corpus),
    )

    def run():
        return index_stream(
            spark, src, "*.parquet", store, ckpt,
            op_col="op", max_postings=16, compact_every=0,
        )

    b1 = [(100001, "t1 t2", 1), (100002, "t2 t3", 1), (5, None, -1)]
    spark.createDataFrame(b1, DOC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run()

    # freshly-seeded no-op guard, then the real fold at generation 1
    folded = compact_index_store(spark, store)
    assert folded == 1
    entries = sorted(
        e for e in os.listdir(store) if e.startswith(("base_", "delta_"))
    )
    assert entries == ["base_g0", "base_g1", "delta_g1"]
    assert os.path.isdir(os.path.join(store, "base_g1", "tf"))
    assert os.path.isdir(os.path.join(store, "base_g1", "stats"))
    assert os.path.isdir(os.path.join(store, "base_g1", "pos"))
    # immediately re-running the job is a no-op (never fold a base
    # onto itself)
    assert compact_index_store(spark, store) == 1

    b2 = [(100003, "t3 t4", 1)]
    spark.createDataFrame(b2, DOC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    got = run()

    report = store_disk_report(store)
    assert report["delta_bytes"][2] < report["base_bytes"][1] / 5, (
        "post-fold ingest must stay delta-sized"
    )
    # reads straddling the fold converge to the net-corpus recompute
    net = corpus.filter(F.col("doc_id") != 5).unionByName(
        _docs(spark, [(i, t, 1) for i, t, _ in (b1[:2] + b2)])
    )
    want_idx, _ = inverted_index_with_overflow(net, min_df=1, max_postings=16)
    assert got.count() == want_idx.count()
    assert _norm(read_index_stats(spark, store)) == _norm(
        corpus_stats(doc_term_stats(net))
    )


def test_offline_compaction_job_dedup_store(spark, tmp_path):
    """`components.compact_store`: the same offline-fold contract on
    the dedup store — fold at the latest committed generation, no-op
    on an already-based generation, reads converge."""
    from patientdataintegration_spark.streaming.components import (
        compact_store,
        components_stream,
        read_store,
        seed_stores,
    )

    src, store, ckpt = (str(tmp_path / p) for p in ("src", "store", "ckpt"))
    os.makedirs(src)
    os.makedirs(store)
    sigs0 = spark.createDataFrame(
        [(1, 7, 7), (2, 7, 7)], "doc_id bigint, mh_0 bigint, mh_1 bigint"
    )
    pairs0 = spark.createDataFrame([(1, 2)], "doc_a bigint, doc_b bigint")
    labels0 = spark.createDataFrame(
        [(1, 1), (2, 1)], "node bigint, label bigint"
    )
    seed_stores(sigs0, pairs0, labels0, store)
    assert compact_store(spark, store) == 0  # no-op on the fresh seed

    batch = spark.createDataFrame(
        [(3, 7, 7)], "doc_id bigint, mh_0 bigint, mh_1 bigint"
    )
    batch.coalesce(1).write.mode("append").parquet(src)
    components_stream(
        spark, src, "*.parquet", store, ckpt,
        bands=2, rows_per_band=1, compact_every=0,
    )
    assert compact_store(spark, store) == 1
    entries = sorted(
        e for e in os.listdir(store) if e.startswith(("base_", "delta_"))
    )
    assert entries == ["base_g0", "base_g1", "delta_g1"]
    labels = _norm(read_store(spark, store, "labels"))
    assert labels == [(1, 1), (2, 1), (3, 1)]


def test_satellite_time_travel_through_real_write_path(spark, tmp_path):
    """Historical versions of the SATELLITES, driven through the real
    stream writes (the store-properties sweeps fabricate generations
    by hand; this goes seed → three CRUD batches → read every version
    back): at each version v, tf/pos/stats equal their recompute over
    the as-of corpus — and BM25 SERVED at the pinned version equals
    the recompute over that historical corpus, i.e. time-travel
    retrieval works for ranking, not just postings."""
    src, store, ckpt = (str(tmp_path / p) for p in ("src", "store", "ckpt"))
    os.makedirs(src)
    os.makedirs(store)
    _seed(spark, store, SEED)

    batches = [
        BATCH_A,
        BATCH_B,
        # batch 3: re-ingest previously-deleted doc 5 with new content
        # (a NEW document under the CRUD contract) + take down 1
        [(5, "e f g", 1), (1, None, -1)],
    ]

    def corpus_at(v):
        live = {i: t for i, t, _ in SEED}
        for ins_del in batches[:v]:
            for i, t, op in ins_del:
                if op > 0:
                    live[i] = t
            for i, _t, op in ins_del:
                if op < 0:
                    live.pop(i, None)
        return [(i, t, 1) for i, t in sorted(live.items())]

    for b in batches:
        spark.createDataFrame(b, DOC_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        index_stream(
            spark, src, "*.parquet", store, ckpt,
            op_col="op", max_postings=16, compact_every=0,
        )

    queries = spark.createDataFrame(
        [(10, "a c"), (11, "f"), (12, "g e")], "query_id bigint, text string"
    )
    for v in range(len(batches) + 1):
        asof = _docs(spark, corpus_at(v))
        want_tf = doc_term_stats(asof)
        assert _norm(read_index_store(spark, store, "tf", version=v)) == (
            _norm(want_tf)
        ), f"tf at version {v}"
        assert _norm(read_index_store(spark, store, "pos", version=v)) == (
            _norm(positional_postings(asof))
        ), f"pos at version {v}"
        assert _norm(read_index_stats(spark, store, version=v)) == _norm(
            corpus_stats(want_tf)
        ), f"stats at version {v}"
        served = bm25_from_store(
            read_index_store(spark, store, "tf", version=v),
            read_index_stats(spark, store, version=v),
            queries,
            k=3,
        )
        assert _norm(served) == _norm(bm25_topk(asof, queries, k=3)), (
            f"pinned-version BM25 at version {v}"
        )


def test_bm25_from_store_max_df_guard_matches_recompute(spark, tmp_path):
    """The WAND-style stop-word guard must mean the same thing on
    both paths: guarded terms contribute nothing, and df for the
    guard decision comes from the candidate rows themselves."""
    store = _run_crud(spark, tmp_path)
    queries = spark.createDataFrame(
        [(10, "a c f"), (11, "b")], "query_id bigint, text string"
    )
    for max_df in (1, 2, 3):
        served = bm25_from_store(
            read_index_store(spark, store, "tf"),
            read_index_stats(spark, store),
            queries,
            k=3,
            max_df=max_df,
        )
        want = bm25_topk(_docs(spark, NET), queries, k=3, max_df=max_df)
        assert _norm(served) == _norm(want), f"max_df={max_df}"


def test_serving_export_prunes_to_query_buckets(spark, tmp_path):
    """The bucketed serving export (q290's machinery): the pruned
    point read equals the store relation filtered to the queried
    terms, every input file lies under a QUERIED tb= partition
    directory (partition pruning at plan time — the Lucene
    term-dictionary seek as a partition filter), and BM25 over the
    pruned rows equals BM25 over the full store."""
    from patientdataintegration_spark.streaming.index import (
        STATS_SCHEMA,
        export_serving_layout,
        read_serving_relation,
        term_bucket_py,
    )

    store = _run_crud(spark, tmp_path)
    out = str(tmp_path / "export")
    n_buckets = 8
    v = export_serving_layout(
        spark, store, out, relations=("tf", "pos"), n_buckets=n_buckets
    )
    assert v == 2  # latest committed generation

    terms = ["a", "c"]
    pruned = read_serving_relation(spark, out, "tf", terms)
    want = read_index_store(spark, store, "tf").filter(
        F.col("term").isin(terms)
    )
    assert _norm(pruned) == _norm(want)

    # plan proof: the physical scan carries the bucket IN-list as a
    # PARTITION filter (inputFiles() is best-effort on the logical
    # relation and ignores partition pruning once a Project sits on
    # top, so assert on the executed plan, as tools/plan_audit does)
    from patientdataintegration_spark.plans.inspect import explain_str

    import re

    queried_buckets = {term_bucket_py(t, n_buckets) for t in terms}
    plan = explain_str(pruned)
    m = re.search(r"PartitionFilters: \[tb#\d+ IN \(([\d,]+)\)\]", plan)
    assert m, "the pruned scan must carry a tb IN partition filter"
    assert {int(x) for x in m.group(1).split(",")} == queried_buckets

    queries = spark.createDataFrame(
        [(10, "a c")], "query_id bigint, text string"
    )
    stats = spark.read.schema(STATS_SCHEMA).parquet(
        os.path.join(out, _meta_dir(out, "stats"))
    )
    served_pruned = bm25_from_store(pruned, stats, queries, k=3)
    served_full = bm25_from_store(
        read_index_store(spark, store, "tf"),
        read_index_stats(spark, store),
        queries,
        k=3,
    )
    assert _norm(served_pruned) == _norm(served_full)

    # the POSITIONAL export serves phrases identically, pruned the
    # same way (q291's machinery — at 100 TB positions are the
    # store's largest relation, so pruning matters most there)
    phrase_terms = ["a", "b", "c"]
    pos_pruned = read_serving_relation(spark, out, "pos", phrase_terms)
    pplan = explain_str(pos_pruned)
    pm = re.search(r"PartitionFilters: \[tb#\d+ IN \(([\d,]+)\)\]", pplan)
    assert pm, "the pruned pos scan must carry a tb IN partition filter"
    assert {int(x) for x in pm.group(1).split(",")} == {
        term_bucket_py(t, n_buckets) for t in phrase_terms
    }
    phrases = spark.createDataFrame(
        [(1, ["a", "b", "c"])], "phrase_id bigint, terms array<string>"
    )
    assert _norm(phrase_retrieval_nterm(pos_pruned, phrases)) == _norm(
        phrase_retrieval_nterm(read_index_store(spark, store, "pos"), phrases)
    )


# --- incremental serving-export refresh (round 15) -------------------------


def _meta_dir(out, relation):
    """Resolve a relation's physical directory (the stats marginal
    included) through the layout meta's `dirs` map — tests must
    address exports the way readers do."""
    import json

    with open(os.path.join(out, "serving_meta.json")) as f:
        meta = json.load(f)
    return meta["dirs"][relation]


def _export_file_state(out, relation):
    """relpath -> (md5, mtime_ns) for every file under the exported
    relation — the byte-identity witness for untouched buckets."""
    import hashlib

    state = {}
    rel = os.path.join(out, _meta_dir(out, relation))
    for root, _dirs, files in os.walk(rel):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                digest = hashlib.md5(fh.read()).hexdigest()
            state[os.path.relpath(p, rel)] = (digest, os.stat(p).st_mtime_ns)
    return state


def test_incremental_refresh_rewrites_only_dirty_buckets(spark, tmp_path):
    """`refresh_serving_layout` must (a) be invisible to values — the
    refreshed layout equals the store at the new version, (b) leave
    every bucket containing no dirtied term BYTE-IDENTICAL on disk
    (same content, same mtime: the refresh never opened it), (c)
    rewrite a dirty bucket without losing its untouched cohabitant
    terms, and (d) delete a bucket whose only terms vanished (dynamic
    overwrite alone would leave its stale files serving)."""
    from patientdataintegration_spark.streaming.index import (
        export_serving_layout,
        refresh_serving_layout,
        term_bucket_py,
    )

    src, store, ckpt = (str(tmp_path / p) for p in ("src", "store", "ckpt"))
    os.makedirs(src)
    os.makedirs(store)
    # one disjoint term per doc, so dirty/untouched buckets separate;
    # at n_buckets=16: u1->15, u2->4, u3->8, u4->11, u5->0, u6->10,
    # x7->10 (x7 COHABITS u6's bucket — the rewrite must keep u6)
    # ... plus 18 docs sharing "of" (df > cap=16), so the exported
    # overflow relation is non-empty and its bucket (8) is an
    # untouched-bucket witness of its own
    seed = [(i, f"u{i} u{i}", 1) for i in range(1, 7)] + [
        (100 + i, "of", 1) for i in range(18)
    ]
    _seed(spark, store, seed)
    out = str(tmp_path / "export")
    n_buckets = 16
    RELS = ("tf", "pos", "index", "overflow")
    assert export_serving_layout(
        spark, store, out, relations=RELS, n_buckets=n_buckets
    ) == 0

    # batch: ingest 7 (dirties u1, x7), take down doc 2 (u2's ONLY
    # doc — the term leaves the index, bucket 4 must empty out)
    batch = [(7, "u1 x7", 1), (2, None, -1)]
    spark.createDataFrame(batch, DOC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    index_stream(
        spark, src, "*.parquet", store, ckpt,
        op_col="op", max_postings=16, compact_every=0,
    )

    before = {n: _export_file_state(out, n) for n in RELS}
    res = refresh_serving_layout(spark, store, out)
    dirty_buckets = sorted(
        {term_bucket_py(t, n_buckets) for t in ("u1", "x7", "u2")}
    )
    assert res == {
        "version": 1, "mode": "incremental", "dirty_buckets": dirty_buckets,
    }

    for name in RELS:
        got = _norm(
            spark.read.parquet(
                os.path.join(out, _meta_dir(out, name))
            ).drop("tb")
        )
        assert got == _norm(read_index_store(spark, store, name, version=1)), (
            f"refreshed {name} must equal the store at the new version"
        )
        after = _export_file_state(out, name)
        untouched_before = {
            p: s for p, s in before[name].items()
            if p.startswith("tb=")
            and int(p.split(os.sep)[0][3:]) not in dirty_buckets
        }
        assert untouched_before, "test needs untouched buckets to witness"
        for p, s in untouched_before.items():
            assert after.get(p) == s, f"untouched bucket file rewritten: {p}"
        # the emptied bucket (u2's) is gone entirely
        assert not os.path.isdir(
            os.path.join(
                out, _meta_dir(out, name), f"tb={term_bucket_py('u2', n_buckets)}"
            )
        )
    # the stats marginal and meta version advanced with the refresh
    assert _norm(
        spark.read.parquet(os.path.join(out, _meta_dir(out, "stats")))
    ) == _norm(read_index_stats(spark, store, version=1))

    # re-running with nothing new is a declared no-op: zero writes —
    # snapshot BEFORE the call, compare after (a same-call comparison
    # would be a tautology)
    pre_noop = {n: _export_file_state(out, n) for n in RELS}
    again = refresh_serving_layout(spark, store, out)
    assert again == {"version": 1, "mode": "noop", "dirty_buckets": []}
    for name in RELS:
        assert _export_file_state(out, name) == pre_noop[name]


def test_refresh_falls_back_to_full_export_after_gc(spark, tmp_path):
    """When compaction + GC removed a generation in the refresh range,
    the dirty sets are incomplete — the refresh must detect it and
    fall back to a full re-export at the new version (correct, just
    not incremental), never serve a layout missing those terms."""
    from patientdataintegration_spark.streaming.index import (
        export_serving_layout,
        refresh_serving_layout,
    )

    src, store, ckpt = (str(tmp_path / p) for p in ("src", "store", "ckpt"))
    os.makedirs(src)
    os.makedirs(store)
    _seed(spark, store, SEED)
    out = str(tmp_path / "export")
    assert export_serving_layout(
        spark, store, out, relations=("tf",), n_buckets=8
    ) == 0

    def run():
        return index_stream(
            spark, src, "*.parquet", store, ckpt,
            op_col="op", max_postings=16, compact_every=0,
        )

    spark.createDataFrame(BATCH_A, DOC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run()
    compact_index_store(spark, store)  # base_g1
    spark.createDataFrame(BATCH_B, DOC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run()
    compact_index_store(spark, store)  # base_g2; GC drops delta_g1

    res = refresh_serving_layout(spark, store, out)
    assert res["mode"] == "full"
    assert res["version"] == 2
    got = _norm(
        spark.read.parquet(os.path.join(out, _meta_dir(out, "tf"))).drop("tb")
    )
    assert got == _norm(read_index_store(spark, store, "tf", version=2))


def test_refresh_under_crud_soak_certifies_every_window(spark, tmp_path):
    """The refresh-under-CRUD soak (r14 verdict stretch item):
    interleave CRUD batches — across the checkpointed-restart pattern
    — with incremental refreshes, and after EVERY refresh certify the
    export against the from-scratch recompute over the net corpus
    (the q289 certificate applied to the serving layout): tf content,
    the stats marginal, and one BM25 query served from the PRUNED
    read, all equal to recompute."""
    from patientdataintegration_spark.streaming.index import (
        STATS_SCHEMA,
        export_serving_layout,
        read_serving_relation,
        refresh_serving_layout,
    )

    src, store, ckpt = (str(tmp_path / p) for p in ("src", "store", "ckpt"))
    os.makedirs(src)
    os.makedirs(store)
    _seed(spark, store, SEED)
    out = str(tmp_path / "export")
    export_serving_layout(spark, store, out, relations=("tf",), n_buckets=8)

    batches = [
        BATCH_A,
        BATCH_B,
        [(5, "e f g", 1), (1, None, -1)],  # re-ingest after takedown
    ]
    live = {i: t for i, t, _ in SEED}
    queries = spark.createDataFrame(
        [(10, "a c"), (11, "f g")], "query_id bigint, text string"
    )
    for v, b in enumerate(batches, start=1):
        spark.createDataFrame(b, DOC_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        index_stream(
            spark, src, "*.parquet", store, ckpt,
            op_col="op", max_postings=16, compact_every=0,
        )
        res = refresh_serving_layout(spark, store, out)
        assert res["version"] == v and res["mode"] == "incremental"

        for i, t, op in b:
            if op > 0:
                live[i] = t
        for i, _t, op in b:
            if op < 0:
                live.pop(i, None)
        net = _docs(spark, [(i, t, 1) for i, t in sorted(live.items())])
        assert _norm(
            spark.read.parquet(
                os.path.join(out, _meta_dir(out, "tf"))
            ).drop("tb")
        ) == _norm(doc_term_stats(net)), f"tf drift after refresh {v}"
        assert _norm(
            spark.read.parquet(os.path.join(out, _meta_dir(out, "stats")))
        ) == _norm(corpus_stats(doc_term_stats(net))), f"stats at {v}"
        terms = sorted({w for t in live.values() for w in t.split()})
        served = bm25_from_store(
            read_serving_relation(spark, out, "tf", terms),
            spark.read.schema(STATS_SCHEMA).parquet(
                os.path.join(out, _meta_dir(out, "stats"))
            ),
            queries,
            k=3,
        )
        assert _norm(served) == _norm(bm25_topk(net, queries, k=3)), (
            f"served BM25 drift after refresh {v}"
        )


def test_export_refuses_in_place_bucket_count_change(spark, tmp_path):
    """n_buckets is frozen per layout directory: re-exporting in place
    with a different count would pair one bucket mapping with the
    other's partitions and silently drop queried rows (r14 ADVICE) —
    it must refuse loudly."""
    from patientdataintegration_spark.streaming.index import (
        export_serving_layout,
    )

    store = _run_crud(spark, tmp_path)
    out = str(tmp_path / "export")
    export_serving_layout(spark, store, out, relations=("tf",), n_buckets=8)
    with pytest.raises(ValueError, match="n_buckets"):
        export_serving_layout(
            spark, store, out, relations=("tf",), n_buckets=16
        )


def test_conjunctive_serving_from_pruned_postings_export(spark, tmp_path):
    """q293's machinery: the (index, overflow) core factorization
    exports bucketed like the satellites, the pruned point read
    carries the tb IN partition filter, and conjunctive retrieval
    over the pruned rows equals retrieval over the full maintained
    relations — the cap's overflow rows survive the layout."""
    import re

    from patientdataintegration_spark.operators.indexing import (
        conjunctive_retrieval,
    )
    from patientdataintegration_spark.plans.inspect import explain_str
    from patientdataintegration_spark.streaming.index import (
        export_serving_layout,
        read_serving_relation,
        term_bucket_py,
    )

    # cap=2 so the hot term 'a' (4 net docs) actually OVERFLOWS —
    # the pruned serve must restore exact postings past the cap
    src, store, ckpt = (str(tmp_path / p) for p in ("src", "store", "ckpt"))
    os.makedirs(src)
    os.makedirs(store)
    _seed(spark, store, SEED, max_postings=2)
    for b in (BATCH_A, BATCH_B):
        spark.createDataFrame(b, DOC_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        index_stream(
            spark, src, "*.parquet", store, ckpt,
            op_col="op", max_postings=2, compact_every=0,
        )
    assert read_index_store(spark, store, "overflow").count() > 0

    out = str(tmp_path / "export")
    n_buckets = 8
    export_serving_layout(
        spark, store, out, relations=("index", "overflow"),
        n_buckets=n_buckets,
    )
    pairs = spark.createDataFrame(
        [("a", "c"), ("c", "d")], "term_a string, term_b string"
    )
    terms = ["a", "c", "d"]
    idx_pruned = read_serving_relation(spark, out, "index", terms)
    of_pruned = read_serving_relation(spark, out, "overflow", terms)
    for df, label in ((idx_pruned, "index"), (of_pruned, "overflow")):
        plan = explain_str(df)
        m = re.search(r"PartitionFilters: \[tb#\d+ IN \(([\d,]+)\)\]", plan)
        assert m, f"pruned {label} scan must carry a tb IN partition filter"
        assert {int(x) for x in m.group(1).split(",")} == {
            term_bucket_py(t, n_buckets) for t in terms
        }
    got = _norm(conjunctive_retrieval(idx_pruned, of_pruned, pairs))
    want = _norm(
        conjunctive_retrieval(
            read_index_store(spark, store, "index"),
            read_index_store(spark, store, "overflow"),
            pairs,
        )
    )
    assert got == want


def test_empty_exported_relation_reads_as_empty(spark, tmp_path):
    """An exported relation with zero rows (a store whose overflow
    never filled) leaves NO part files under its partitioned
    directory — the pruned read must return an empty frame with the
    relation's schema, not fail schema inference."""
    from patientdataintegration_spark.streaming.index import (
        export_serving_layout,
        read_serving_relation,
    )

    store = _run_crud(spark, tmp_path)  # cap=16: overflow stays empty
    assert read_index_store(spark, store, "overflow").count() == 0
    out = str(tmp_path / "export")
    export_serving_layout(
        spark, store, out, relations=("overflow",), n_buckets=8
    )
    got = read_serving_relation(spark, out, "overflow", ["a", "b"])
    assert got.columns == ["term", "doc"]
    assert got.count() == 0


# --- proximity ranking from the positional satellite (round 15) ------------


def test_proximity_merged_adjacency_equals_quadratic_min(spark):
    """`proximity_pair_topk`'s linear merged-adjacency window must
    equal the brute-force O(occ_a × occ_b) minimum on crafted
    position lists covering the argument's edge cases: interleaved
    runs, a-runs hiding the closest b, single occurrences, b before
    a, and a doc containing only one of the terms (excluded)."""
    from patientdataintegration_spark.operators.indexing import (
        proximity_pair_topk,
    )

    # (term, doc, pos) rows; pair = (a, b)
    docs = {
        1: [("a", 1), ("a", 3), ("b", 10)],          # min |3-10| = 7
        2: [("b", 2), ("a", 9), ("b", 11)],          # min = 2
        3: [("a", 1), ("b", 2), ("a", 3), ("b", 8)],  # min = 1
        4: [("a", 5)],                                # one-sided: absent
        5: [("b", 4), ("b", 5), ("b", 6), ("a", 7)],  # min = 1
        6: [("a", 100), ("a", 101), ("a", 102), ("b", 99)],  # min = 1
    }
    rows = [
        (term, doc, pos) for doc, occ in docs.items() for term, pos in occ
    ]
    positions = spark.createDataFrame(
        rows, "term string, doc bigint, pos bigint"
    )
    pairs = spark.createDataFrame([("a", "b")], "term_a string, term_b string")
    got = {
        (r["doc"], r["min_gap"], r["rnk"])
        for r in proximity_pair_topk(positions, pairs, k=10).collect()
    }

    brute = {}
    for doc, occ in docs.items():
        pa = [p for t, p in occ if t == "a"]
        pb = [p for t, p in occ if t == "b"]
        if pa and pb:
            brute[doc] = min(abs(x - y) for x in pa for y in pb)
    ranked = sorted(brute.items(), key=lambda kv: (kv[1], kv[0]))
    want = {(doc, gap, i + 1) for i, (doc, gap) in enumerate(ranked)}
    assert got == want

    # k truncates by (min_gap asc, doc asc)
    top2 = {
        (r["doc"], r["rnk"])
        for r in proximity_pair_topk(positions, pairs, k=2).collect()
    }
    assert top2 == {(doc, i + 1) for i, (doc, _g) in enumerate(ranked[:2])}


def test_refresh_refuses_meta_without_relation_list(spark, tmp_path):
    """A serving meta with no 'relations' key predates the refresh;
    guessing a default would advance the version while leaving the
    unguessed relations silently stale — the refresh must refuse
    loudly and demand a re-export."""
    import json

    from patientdataintegration_spark.streaming.index import (
        export_serving_layout,
        refresh_serving_layout,
    )

    store = str(tmp_path / "store")
    os.makedirs(store)
    _seed(spark, store, [(1, "a b", 1)])
    out = str(tmp_path / "export")
    export_serving_layout(spark, store, out, relations=("tf",), n_buckets=4)
    meta_path = os.path.join(out, "serving_meta.json")
    meta = json.load(open(meta_path))
    del meta["relations"]
    json.dump(meta, open(meta_path, "w"))
    with pytest.raises(ValueError, match="no relation list"):
        refresh_serving_layout(spark, store, out)


def test_inplace_export_refuses_shrinking_relations(spark, tmp_path):
    """Re-exporting in place with FEWER relations would leave the
    dropped relations' directories stale-but-readable under the new
    meta version — refused, the n_buckets-freeze discipline; growing
    the set in place stays allowed (everything rewrites)."""
    from patientdataintegration_spark.streaming.index import (
        export_serving_layout,
        read_serving_relation,
    )

    store = str(tmp_path / "store")
    os.makedirs(store)
    _seed(spark, store, [(1, "a b", 1)])
    out = str(tmp_path / "export")
    export_serving_layout(
        spark, store, out, relations=("tf", "pos"), n_buckets=4
    )
    with pytest.raises(ValueError, match="stale-but-readable"):
        export_serving_layout(spark, store, out, relations=("tf",), n_buckets=4)
    # growing in place is fine — and the grown relation serves
    export_serving_layout(
        spark, store, out, relations=("tf", "pos", "index"), n_buckets=4
    )
    assert read_serving_relation(spark, out, "index", ["a"]).count() == 1


def test_continuous_serving_layout_follows_the_stream(spark, tmp_path):
    """`index_stream(serving_out=...)` — continuous serving: each
    micro-batch ends with an incremental refresh, so after every run
    the layout serves the store's newest version with only the
    batch's dirty buckets rewritten; a restart run with no new files
    advances nothing and rewrites nothing."""
    from patientdataintegration_spark.streaming.index import (
        export_serving_layout,
        term_bucket_py,
    )
    from patientdataintegration_spark.streaming.serving import read_serving_meta

    src, store, ckpt = (str(tmp_path / p) for p in ("src", "store", "ckpt"))
    os.makedirs(src)
    os.makedirs(store)
    seed = [(i, f"u{i} u{i}", 1) for i in range(1, 7)]
    _seed(spark, store, seed)
    out = str(tmp_path / "export")
    n_buckets = 16
    assert export_serving_layout(
        spark, store, out, relations=("tf", "pos"), n_buckets=n_buckets
    ) == 0

    def run():
        return index_stream(
            spark, src, "*.parquet", store, ckpt,
            op_col="op", max_postings=16, compact_every=0,
            serving_out=out,
        )

    # batch 1 -> gen 1, refreshed inline
    spark.createDataFrame([(7, "u1 x7", 1)], DOC_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(src)
    run()
    assert read_serving_meta(out)["version"] == 1
    state1 = {n: _export_file_state(out, n) for n in ("tf", "pos")}

    # batch 2 -> gen 2 (ingest u8, take down doc 2), refreshed inline
    spark.createDataFrame(
        [(8, "u8", 1), (2, None, -1)], DOC_SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    assert read_serving_meta(out)["version"] == 2
    dirty2 = {term_bucket_py(t, n_buckets) for t in ("u8", "u2")}
    for name in ("tf", "pos"):
        got = _norm(
            spark.read.parquet(
                os.path.join(out, _meta_dir(out, name))
            ).drop("tb")
        )
        assert got == _norm(read_index_store(spark, store, name))
        after = _export_file_state(out, name)
        untouched = {
            p: s for p, s in state1[name].items()
            if p.startswith("tb=")
            and int(p.split(os.sep)[0][3:]) not in dirty2
        }
        assert untouched, "test needs untouched buckets to witness"
        for p, s in untouched.items():
            assert after.get(p) == s, f"batch-2 refresh rewrote {p}"

    # empty restart: nothing advances, nothing rewrites
    pre = {n: _export_file_state(out, n) for n in ("tf", "pos")}
    run()
    assert read_serving_meta(out)["version"] == 2
    for name in ("tf", "pos"):
        assert _export_file_state(out, name) == pre[name]


def test_full_export_crash_before_flip_keeps_old_version_serving(
    spark, tmp_path, monkeypatch
):
    """The staged full export (r15 ADVICE): every relation writes to
    a fresh version-tagged directory and the meta flips LAST — so a
    crash anywhere before the flip (simulated by failing the meta
    write) leaves the layout serving the OLD version from intact old
    directories, never a truncated relation. The retry then lands the
    new version cleanly."""
    import patientdataintegration_spark.streaming.serving as sv

    src, store, ckpt = (str(tmp_path / p) for p in ("src", "store", "ckpt"))
    os.makedirs(src)
    os.makedirs(store)
    _seed(spark, store, SEED)
    out = str(tmp_path / "export")
    assert export_serving_layout(
        spark, store, out, relations=("tf",), n_buckets=8
    ) == 0
    want_v0 = _norm(read_serving_relation(spark, out, "tf", ["a", "b", "c"]))

    def run():
        return index_stream(
            spark, src, "*.parquet", store, ckpt,
            op_col="op", max_postings=16, compact_every=0,
        )

    spark.createDataFrame(BATCH_A, DOC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run()

    real_write = sv.write_serving_meta

    def crash(*a, **kw):
        raise RuntimeError("simulated crash before the meta flip")

    monkeypatch.setattr(sv, "write_serving_meta", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        export_serving_layout(
            spark, store, out, relations=("tf",), n_buckets=8, version=1
        )
    monkeypatch.setattr(sv, "write_serving_meta", real_write)

    # the old meta still points at intact v0 directories: reads serve
    # exactly what they served before the crashed attempt
    from patientdataintegration_spark.streaming.serving import read_serving_meta

    assert read_serving_meta(out)["version"] == 0
    assert _norm(
        read_serving_relation(spark, out, "tf", ["a", "b", "c"])
    ) == want_v0

    # the retry overwrites the orphan staging dirs and flips cleanly
    assert export_serving_layout(
        spark, store, out, relations=("tf",), n_buckets=8, version=1
    ) == 1
    assert read_serving_meta(out)["version"] == 1
    assert _norm(
        read_serving_relation(spark, out, "tf", ["e"])
    ) == _norm(
        read_index_store(spark, store, "tf", version=1).filter(
            F.col("term") == "e"
        )
    )


def test_pruning_term_collect_guard_falls_back_to_unpruned(spark, tmp_path):
    """`collect_pruning_terms` caps the driver-side vocabulary
    collect (r15 verdict item 4): above `max_terms` it returns None
    and `read_serving_relation(..., terms=None)` serves UNPRUNED —
    the same rows the downstream semi-probe would keep, so results
    are identical, and a pathological query batch can never OOM the
    driver."""
    from patientdataintegration_spark.streaming.index import (
        collect_pruning_terms,
        export_serving_layout,
    )

    store = str(tmp_path / "store")
    os.makedirs(store)
    _seed(spark, store, SEED)
    out = str(tmp_path / "export")
    export_serving_layout(spark, store, out, relations=("tf",), n_buckets=8)

    vocab = spark.createDataFrame(
        [("a",), ("b",), ("c",)], "term string"
    )
    # under the cap: the pruned path
    terms = collect_pruning_terms(vocab, max_terms=10)
    assert terms == ["a", "b", "c"]
    pruned = _norm(read_serving_relation(spark, out, "tf", terms))

    # over the cap: the declared fallback — None, unpruned read
    assert collect_pruning_terms(vocab, max_terms=2) is None
    unpruned = read_serving_relation(spark, out, "tf", None)
    assert _norm(
        unpruned.filter(F.col("term").isin(["a", "b", "c"]))
    ) == pruned
    # the unpruned read carries the WHOLE relation (no tb column)
    assert unpruned.columns == ["term", "doc", "tf", "len_d"]
    assert _norm(unpruned) == _norm(read_index_store(spark, store, "tf"))


def test_continuous_trigger_cadence_refreshes_after_every_batch(
    spark, tmp_path, monkeypatch
):
    """Continuous serving under a rate-limited source (r15 verdict
    item 6): with `maxFilesPerTrigger=1`, one availableNow run drains
    the backlog as CONSECUTIVE micro-batches, and the inline refresh
    must land after EVERY one of them — the export is never more
    than the in-flight batch behind the store. Pinned by wrapping
    the refresh and recording (store version, mode) per batch."""
    import patientdataintegration_spark.streaming.index as ix

    src, store, ckpt = (str(tmp_path / p) for p in ("src", "store", "ckpt"))
    os.makedirs(src)
    os.makedirs(store)
    _seed(spark, store, SEED)
    out = str(tmp_path / "export")
    assert export_serving_layout(
        spark, store, out, relations=("tf", "pos"), n_buckets=8
    ) == 0

    # three files -> three consecutive micro-batches in ONE run
    for i, doc in enumerate([(10, "p q", 1), (11, "q r", 1), (12, "r s", 1)]):
        spark.createDataFrame([doc], DOC_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    seen = []
    real_refresh = ix.refresh_serving_layout

    def recording_refresh(s, store_dir, out_dir, version=None, **kw):
        res = real_refresh(s, store_dir, out_dir, version, **kw)
        seen.append((res["version"], res["mode"]))
        return res

    monkeypatch.setattr(ix, "refresh_serving_layout", recording_refresh)
    ix.index_stream(
        spark, src, "*.parquet", store, ckpt,
        op_col="op", max_postings=16, compact_every=0,
        serving_out=out, max_files_per_trigger=1,
    )

    # one refresh per micro-batch, each incremental, each advancing
    assert seen == [(1, "incremental"), (2, "incremental"), (3, "incremental")]
    from patientdataintegration_spark.streaming.serving import read_serving_meta

    assert read_serving_meta(out)["version"] == 3
    # the final layout serves the final store state
    for name in ("tf", "pos"):
        assert _norm(
            read_serving_relation(spark, out, name, None)
        ) == _norm(read_index_store(spark, store, name))


def test_export_retention_window_keeps_previous_version(spark, tmp_path):
    """`keep_old_versions` (the snapshot-GC race closer): a full
    re-export with keep_old_versions=1 retains the previous version's
    directories — a reader that planned against the pre-flip meta can
    finish its scan — and the next export rolls the window (v0 gone,
    v1 kept). keep_old_versions=0 (default) reclaims immediately."""
    src, store, ckpt = (str(tmp_path / p) for p in ("src", "store", "ckpt"))
    os.makedirs(src)
    os.makedirs(store)
    _seed(spark, store, SEED)
    out = str(tmp_path / "export")
    assert export_serving_layout(
        spark, store, out, relations=("tf",), n_buckets=8
    ) == 0

    def run():
        return index_stream(
            spark, src, "*.parquet", store, ckpt,
            op_col="op", max_postings=16, compact_every=0,
        )

    spark.createDataFrame(BATCH_A, DOC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run()
    assert export_serving_layout(
        spark, store, out, relations=("tf",), n_buckets=8, version=1,
        keep_old_versions=1,
    ) == 1
    names = set(os.listdir(out))
    assert {"tf_v0", "stats_v0", "tf_v1", "stats_v1"} <= names
    # the retained old version still reads coherently (pre-flip
    # readers' view)
    from patientdataintegration_spark.streaming.index import TF_SCHEMA

    old = spark.read.schema(f"{TF_SCHEMA}, tb int").parquet(
        os.path.join(out, "tf_v0")
    )
    assert _norm(old.drop("tb")) == _norm(
        read_index_store(spark, store, "tf", version=0)
    )

    spark.createDataFrame(BATCH_B, DOC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run()
    assert export_serving_layout(
        spark, store, out, relations=("tf",), n_buckets=8, version=2,
        keep_old_versions=1,
    ) == 2
    names = set(os.listdir(out))
    assert "tf_v0" not in names and "stats_v0" not in names
    assert {"tf_v1", "tf_v2", "stats_v1", "stats_v2"} <= names


def test_export_retention_protects_pre_flip_refs_after_refreshes(
    spark, tmp_path
):
    """Retain BY REFERENCE (r16 ADVICE), under copy-on-write
    refreshes (r18): each incremental refresh stages every relation
    to a fresh `{name}_v{version}` directory and GCs the superseded
    one per the retention window, so the meta's dirs always carry the
    meta's own version; a later full re-export with
    keep_old_versions=1 must retain exactly the directories the
    PRE-FLIP meta references."""
    from patientdataintegration_spark.streaming.index import refresh_serving_layout
    from patientdataintegration_spark.streaming.serving import read_serving_meta

    src, store, ckpt = (str(tmp_path / p) for p in ("src", "store", "ckpt"))
    os.makedirs(src)
    os.makedirs(store)
    _seed(spark, store, SEED)
    out = str(tmp_path / "export")
    assert export_serving_layout(
        spark, store, out, relations=("tf",), n_buckets=8
    ) == 0

    def run():
        return index_stream(
            spark, src, "*.parquet", store, ckpt,
            op_col="op", max_postings=16, compact_every=0,
        )

    # two refresh windows: dirs and stats stage copy-on-write to the
    # new version's names; the superseded ones are GC'd immediately
    # (keep_old_versions=0, the tight-disk default)
    for batch in (BATCH_A, BATCH_B):
        spark.createDataFrame(batch, DOC_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        run()
        assert refresh_serving_layout(spark, store, out)["mode"] == (
            "incremental"
        )
    pre_flip = read_serving_meta(out)
    assert pre_flip["version"] == 2 and pre_flip["dirs"]["tf"] == "tf_v2"
    assert pre_flip["dirs"]["stats"] == "stats_v2"
    assert {"tf_v0", "tf_v1", "stats_v0", "stats_v1"}.isdisjoint(
        os.listdir(out)
    )

    # a third generation, then a FULL re-export with a retention window
    spark.createDataFrame([(30, "p q r", 1)], DOC_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(src)
    run()
    assert export_serving_layout(
        spark, store, out, relations=("tf",), n_buckets=8,
        keep_old_versions=1,
    ) == 3
    names = set(os.listdir(out))
    # everything the pre-flip meta references survives the GC — a
    # reader that planned against it can finish its scan
    assert {"tf_v2", "stats_v2", "tf_v3", "stats_v3"} <= names
    from patientdataintegration_spark.streaming.index import TF_SCHEMA

    old = spark.read.schema(f"{TF_SCHEMA}, tb int").parquet(
        os.path.join(out, "tf_v2")
    )
    assert _norm(old.drop("tb")) == _norm(
        read_index_store(spark, store, "tf", version=2)
    )


def test_refresh_crash_before_flip_leaves_old_layout_intact(
    spark, tmp_path, monkeypatch
):
    """COPY-ON-WRITE refresh staging (r16 verdict item 2): the
    incremental refresh never writes into a directory the live meta
    references — dirty buckets stage to `{name}_v{v_new}`, untouched
    buckets hardlink across, and the meta flip publishes rows AND
    stats together. A reader racing the refresh (or surviving a crash
    anywhere before the flip, simulated by failing the meta write)
    therefore serves the OLD layout byte-identically — never a mix of
    pre- and post-refresh buckets, and never v_new rows against v_exp
    stats. The retry then lands the new version cleanly with the
    untouched buckets carried over byte-identical."""
    import patientdataintegration_spark.streaming.serving as sv
    from patientdataintegration_spark.streaming.index import (
        refresh_serving_layout,
        term_bucket_py,
    )
    from patientdataintegration_spark.streaming.serving import read_serving_meta

    src, store, ckpt = (str(tmp_path / p) for p in ("src", "store", "ckpt"))
    os.makedirs(src)
    os.makedirs(store)
    # disjoint single-term docs so dirty/untouched buckets separate
    seed = [(i, f"u{i} u{i}", 1) for i in range(1, 7)]
    _seed(spark, store, seed)
    out = str(tmp_path / "export")
    n_buckets = 16
    assert export_serving_layout(
        spark, store, out, relations=("tf",), n_buckets=n_buckets
    ) == 0
    want_v0 = _norm(read_serving_relation(spark, out, "tf", None))
    stats_v0 = _norm(
        spark.read.parquet(os.path.join(out, _meta_dir(out, "stats")))
    )
    state_v0 = _export_file_state(out, "tf")

    spark.createDataFrame(
        [(7, "u1 x7", 1), (2, None, -1)], DOC_SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    index_stream(
        spark, src, "*.parquet", store, ckpt,
        op_col="op", max_postings=16, compact_every=0,
    )

    real_write = sv.write_serving_meta

    def crash(*a, **kw):
        raise RuntimeError("simulated crash before the meta flip")

    monkeypatch.setattr(sv, "write_serving_meta", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        refresh_serving_layout(spark, store, out)
    monkeypatch.setattr(sv, "write_serving_meta", real_write)

    # the old meta still points at the old directories, whose every
    # file is byte-identical (same digest, same mtime — the staging
    # never opened them): a concurrent reader sees exactly the
    # pre-refresh layout, rows AND stats
    assert read_serving_meta(out)["version"] == 0
    assert _export_file_state(out, "tf") == state_v0
    assert _norm(read_serving_relation(spark, out, "tf", None)) == want_v0
    assert _norm(
        spark.read.parquet(os.path.join(out, _meta_dir(out, "stats")))
    ) == stats_v0

    # the retry lands v1: the refreshed layout equals the store at the
    # new version, and every untouched bucket's files carried over
    # byte-identical (hardlinked) under the new directory
    res = refresh_serving_layout(spark, store, out)
    assert res["version"] == 1 and res["mode"] == "incremental"
    assert _meta_dir(out, "tf") == "tf_v1"
    assert _norm(read_serving_relation(spark, out, "tf", None)) == _norm(
        read_index_store(spark, store, "tf", version=1)
    )
    dirty = {term_bucket_py(t, n_buckets) for t in ("u1", "x7", "u2")}
    after = _export_file_state(out, "tf")
    untouched = {
        p: s for p, s in state_v0.items()
        if p.startswith("tb=") and int(p.split(os.sep)[0][3:]) not in dirty
    }
    assert untouched, "test needs untouched buckets to witness"
    for p, s in untouched.items():
        assert after.get(p) == s, f"untouched bucket not carried over: {p}"
