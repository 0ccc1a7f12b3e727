"""Property-based time-travel batteries for the delta-generation
store READ RULES — `store.read_rowstore` (row grain + id
tombstones: the dedup sigs relation, the IVF inverted file) and
`streaming/index.read_index_store` (term-grain last-writer-wins
upserts). The streaming tests drive the rules through the real write
path at the LATEST version; a crashed batch's replay reads state at
a HISTORICAL version (`version = batch_id` with later generations
already on disk), which only these sweeps exercise: random
generation sequences written directly, then every version v compared
against a Python model replayed to v."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from patientdataintegration_spark.streaming.index import (
    read_index_store,
    seed_index_store,
)
from patientdataintegration_spark.streaming.store import (
    base_path,
    commit_base,
    delta_path,
    read_rowstore,
)

_IDS = list(range(6))

# one generation = (rows inserted, ids tombstoned) — overlaps allowed
# (same-gen insert+tombstone must DIE; a later re-insert must LIVE)
_row_gen = st.tuples(
    st.lists(st.sampled_from(_IDS), max_size=3, unique=True),
    st.lists(st.sampled_from(_IDS), max_size=2, unique=True),
)


@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(gens=st.lists(_row_gen, min_size=1, max_size=3))
def test_rowstore_time_travel_matches_model(spark, gens, tmp_path_factory):
    store = str(tmp_path_factory.mktemp("rowstore"))
    base = [(i, i * 10) for i in _IDS[:3]]
    spark.createDataFrame(base, "doc_id bigint, payload bigint").write.mode(
        "overwrite"
    ).parquet(base_path(store, 0, "rows"))
    commit_base(store, 0)  # base sentinel: reads skip unmarked bases

    # the store is INSERT+DELETE, not upsert (the CDC contract:
    # re-ingesting a LIVE id needs a prior takedown) — drop
    # contract-violating inserts from the generated sequence, keeping
    # re-inserts after a tombstone and same-gen insert+delete
    live_now = {i for i, _ in base}
    cleaned = []
    for ins, dels in gens:
        ins = [i for i in ins if i not in live_now]
        cleaned.append((ins, dels))
        live_now = (live_now | set(ins)) - set(dels)
    gens = cleaned

    # model: id -> (payload, insert gen); tomb: id -> latest tomb gen
    def model_at(v):
        live = {i: (p, 0) for i, p in base}
        tombs: dict[int, int] = {}
        for g, (ins, dels) in enumerate(gens[:v], start=1):
            for i in dels:
                tombs[i] = g
            for i in ins:
                live[i] = (i * 100 + g, g)
        out = []
        for i, (p, g) in live.items():
            tg = tombs.get(i)
            if tg is None or tg < g:
                out.append((i, p))
        return sorted(out)

    for g, (ins, dels) in enumerate(gens, start=1):
        rows = [(i, i * 100 + g) for i in ins]
        spark.createDataFrame(
            rows or [], "doc_id bigint, payload bigint"
        ).write.mode("overwrite").parquet(delta_path(store, g, "rows"))
        spark.createDataFrame(
            [(i,) for i in dels] or [], "doc_id bigint"
        ).write.mode("overwrite").parquet(delta_path(store, g, "tombs"))

    for v in range(len(gens) + 1):
        got = sorted(
            (r["doc_id"], r["payload"])
            for r in read_rowstore(spark, store, "rows", version=v).collect()
        )
        assert got == model_at(v), f"version {v}"


_TERMS = ["a", "b", "c", "d"]

# one generation = dict term -> new postings (empty list = the term
# leaves the index in this generation; absent = untouched)
_upsert_gen = st.dictionaries(
    st.sampled_from(_TERMS),
    st.lists(st.integers(0, 9), min_size=0, max_size=3, unique=True),
    max_size=3,
)


@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(gens=st.lists(_upsert_gen, min_size=1, max_size=3))
def test_upsert_store_time_travel_matches_model(spark, gens, tmp_path_factory):
    store = str(tmp_path_factory.mktemp("upsertstore"))
    base = {"a": [1, 2], "b": [3]}
    idx0 = spark.createDataFrame(
        [(t, len(p), sorted(p)) for t, p in base.items()],
        "term string, doc_freq bigint, postings array<bigint>",
    )
    of0 = spark.createDataFrame(
        [], "term string, doc bigint"
    )
    seed_index_store(idx0, of0, store)

    def model_at(v):
        state = dict(base)
        for g in gens[:v]:
            for t, p in g.items():
                if p:
                    state[t] = p
                else:
                    state.pop(t, None)
        return sorted((t, len(p), tuple(sorted(p))) for t, p in state.items())

    for g, gen in enumerate(gens, start=1):
        spark.createDataFrame(
            [(t,) for t in gen] or [], "term string"
        ).write.mode("overwrite").parquet(delta_path(store, g, "terms"))
        rows = [(t, len(p), sorted(p)) for t, p in gen.items() if p]
        spark.createDataFrame(
            rows or [], "term string, doc_freq bigint, postings array<bigint>"
        ).write.mode("overwrite").parquet(delta_path(store, g, "index"))
        spark.createDataFrame(
            [], "term string, doc bigint"
        ).write.mode("overwrite").parquet(delta_path(store, g, "overflow"))

    for v in range(len(gens) + 1):
        got = sorted(
            (r["term"], r["doc_freq"], tuple(r["postings"]))
            for r in read_index_store(spark, store, "index", version=v).collect()
        )
        assert got == model_at(v), f"version {v}"
