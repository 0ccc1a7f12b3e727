"""Job-free read planning (`plans/materialize.read_parquet`): a parquet
read whose schema the session already knows — a relation the engine
wrote, a cache hit, a catalog table read before — builds its DataFrame
without a Spark job, and the memoized schema is exactly what Spark's
own inferring read returns, nullability included."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from patientdataintegration_spark.plans.materialize import (
    cache_path,
    cached_parquet,
    known_schema,
    read_parquet,
)
from patientdataintegration_spark.streaming.store import overwrite, parallel_actions

SIG_SCHEMA = "doc_id bigint, mh_0 bigint, mh_1 bigint, mh_2 bigint, mh_3 bigint"
DOC_SCHEMA = "doc_id bigint, text string, op int"
VEC_SCHEMA = "vec_id bigint, embedding array<double>, op int"


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def _jobs_to_build(spark, build) -> int:
    before = _jobs(spark)
    build()
    return _jobs(spark) - before


def _append(spark, rows, schema, src):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    """The three streams' stores, each seeded and advanced by one CRUD
    micro-batch, so every relation a stream writes exists on disk."""
    from patientdataintegration_spark.operators.dedup import (
        lsh_candidate_pairs,
        star_labels,
    )
    from patientdataintegration_spark.operators.indexing import (
        doc_term_stats,
        inverted_index_with_overflow,
        positional_postings,
    )
    from patientdataintegration_spark.operators.similarity import ivf_index_exact
    from patientdataintegration_spark.streaming.components import (
        components_stream,
        seed_stores,
    )
    from patientdataintegration_spark.streaming.index import (
        index_stream,
        seed_index_store,
    )
    from patientdataintegration_spark.streaming.ivf import ivf_stream, seed_ivf_store

    root = tmp_path_factory.mktemp("read_planning")
    out = {}

    d = {p: str(root / "dedup" / p) for p in ("src", "store", "ckpt")}
    sigs = spark.createDataFrame(
        [(1, 10, 11, 1001, 1002), (2, 10, 11, 2001, 2002), (3, 30, 31, 2001, 2002)],
        SIG_SCHEMA,
    )
    pairs = lsh_candidate_pairs(sigs, bands=2, rows_per_band=2)
    seed_stores(sigs, pairs, star_labels(pairs), d["store"])
    _append(
        spark,
        [(4, 10, 11, 4001, 4002, 1), (2, None, None, None, None, -1)],
        SIG_SCHEMA + ", op int",
        d["src"],
    )
    components_stream(
        spark, d["src"], "*.parquet", d["store"], d["ckpt"],
        bands=2, rows_per_band=2, op_col="op",
    )
    out["dedup"] = d["store"]

    d = {p: str(root / "index" / p) for p in ("src", "store", "ckpt")}
    seed = spark.createDataFrame([(1, "a b"), (2, "b c")], "doc_id bigint, text string")
    idx0, of0 = inverted_index_with_overflow(seed, min_df=1, max_postings=2)
    seed_index_store(
        idx0, of0, d["store"],
        tf_init=doc_term_stats(seed), pos_init=positional_postings(seed),
    )
    _append(spark, [(3, "b d", 1), (1, None, -1)], DOC_SCHEMA, d["src"])
    index_stream(
        spark, d["src"], "*.parquet", d["store"], d["ckpt"],
        op_col="op", max_postings=2, compact_every=0,
    )
    out["index"] = d["store"]

    d = {p: str(root / "ivf" / p) for p in ("src", "store", "ckpt")}
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0]), (4, [0.1, 0.9])],
        "vec_id bigint, embedding array<double>",
    )
    assigned0, centroids = ivf_index_exact(vecs, n_cells=2, iterations=1)
    seed_ivf_store(assigned0, centroids, d["store"])
    _append(spark, [(5, [0.95, 0.05], 1), (1, None, -1)], VEC_SCHEMA, d["src"])
    ivf_stream(
        spark, d["src"], "*.parquet", d["store"], d["ckpt"],
        op_col="op", compact_every=0,
    )
    out["ivf"] = d["store"]
    return out


def _relation_dirs(store_dir):
    """Every parquet relation directory of a store: each generation's
    relations plus any relation kept beside the generations."""
    for entry in sorted(os.listdir(store_dir)):
        top = os.path.join(store_dir, entry)
        if not os.path.isdir(top):
            continue
        if entry.startswith(("base_g", "delta_g")):
            for rel in sorted(os.listdir(top)):
                if os.path.isdir(os.path.join(top, rel)):
                    yield os.path.join(top, rel)
        else:
            yield top


def test_store_and_cache_reads_plan_without_a_job(spark, stores, tmp_path, sf_dir):
    from patientdataintegration_spark.sources.catalog import load_table
    from patientdataintegration_spark.streaming.components import read_store
    from patientdataintegration_spark.streaming.index import read_index_store
    from patientdataintegration_spark.streaming.ivf import read_ivf_centroids
    from patientdataintegration_spark.streaming.store import (
        latest_generation,
        read_rowstore,
    )

    assert latest_generation(stores["dedup"]) == 1
    assert latest_generation(stores["index"]) == 1
    assert latest_generation(stores["ivf"]) == 1
    reads = {
        f"read_store {name}": (
            lambda name=name: read_store(spark, stores["dedup"], name, version=1)
        )
        for name in ("sigs", "pairs", "labels")
    }
    reads["read_rowstore"] = lambda: read_rowstore(spark, stores["dedup"], "sigs")
    for name in ("index", "overflow", "tf", "pos"):
        reads[f"read_index_store {name}"] = (
            lambda name=name: read_index_store(spark, stores["index"], name)
        )
    reads["ivf store"] = lambda: read_rowstore(
        spark, stores["ivf"], "assigned", id_col="neighbor_id"
    )
    reads["ivf centroids"] = lambda: read_ivf_centroids(spark, stores["ivf"])

    def produce():
        return spark.range(5).select(F.col("id").alias("x"))

    inputs = [str(tmp_path / "input.txt")]
    with open(inputs[0], "w") as f:
        f.write("v1")
    cached_parquet(spark, "read_planning_probe", inputs, produce)
    reads["cached_parquet hit"] = lambda: cached_parquet(
        spark, "read_planning_probe", inputs, produce
    )
    load_table(spark, sf_dir, "documents")
    reads["second load_table"] = lambda: load_table(spark, sf_dir, "documents")

    jobs = {name: _jobs_to_build(spark, build) for name, build in reads.items()}
    assert jobs == {name: 0 for name in reads}


def test_memo_schema_equals_inferred_schema(spark, stores, tmp_path):
    # every relation the three streams wrote, seeded by the writes
    for store_dir in stores.values():
        for path in _relation_dirs(store_dir):
            assert known_schema(spark, path) == spark.read.parquet(path).schema, path

    # a cached relation with non-null nested elements: Spark reads
    # array elements, map values and struct fields back as nullable
    def produce():
        return spark.range(3).select(
            F.col("id").alias("doc"),
            F.array(F.col("id"), F.lit(7).cast("bigint")).alias("postings"),
            F.create_map(F.lit("k"), F.col("id")).alias("m"),
            F.struct(F.col("id").alias("a"), F.array(F.lit(1)).alias("b")).alias("s"),
        )

    assert produce().schema["postings"].dataType.containsNull is False
    inputs = [str(tmp_path / "input.txt")]
    with open(inputs[0], "w") as f:
        f.write("nested")
    df = cached_parquet(spark, "read_planning_nested", inputs, produce)
    inferred = spark.read.parquet(cache_path("read_planning_nested", *inputs)).schema
    assert df.schema == inferred
    assert inferred["postings"].dataType.containsNull is True
    assert sorted(map(tuple, df.select("doc", "postings").collect())) == [
        (0, [0, 7]), (1, [1, 7]), (2, [2, 7])
    ]


def test_overwritten_relation_reads_its_new_schema(spark, tmp_path):
    path = str(tmp_path / "rel")
    overwrite(spark.range(3).select(F.col("id").alias("a")), path)()
    assert read_parquet(spark, path).columns == ["a"]

    # through the store's overwrite (which re-seeds the memo) ...
    overwrite(spark.range(3).select(F.col("id").cast("string").alias("b")), path)()
    assert read_parquet(spark, path).schema.simpleString() == "struct<b:string>"
    # ... and through a plain write the memo never saw
    spark.range(2).select(F.col("id").cast("double").alias("c")).write.mode(
        "overwrite"
    ).parquet(path)
    df = read_parquet(spark, path)
    assert df.schema.simpleString() == "struct<c:double>"
    assert sorted(r["c"] for r in df.collect()) == [0.0, 1.0]


def test_unstattable_path_takes_the_inferring_read(spark, tmp_path):
    path = str(tmp_path / "rel")
    spark.range(3).write.parquet(path)
    uri = "file://" + path
    assert known_schema(spark, uri) is None
    for _ in range(2):
        jobs = _jobs_to_build(spark, lambda: read_parquet(spark, uri))
        assert jobs >= 1, "a path the memo cannot stat is never served from it"
    assert known_schema(spark, uri) is None
    assert read_parquet(spark, uri).count() == 3


def test_concurrent_writers_leave_the_memo_consistent(spark, tmp_path):
    paths = [str(tmp_path / f"rel{i}") for i in range(6)]
    types = ["bigint", "string", "double"]
    frames = [
        spark.range(4).select(
            *(F.col("id").cast(t).alias(f"c{j}") for j, t in enumerate(types[: 1 + i % 3])),
            F.array(F.col("id")).alias(f"arr{i}"),
        )
        for i in range(len(paths))
    ]
    parallel_actions([overwrite(df, p) for df, p in zip(frames, paths)])
    for df, p in zip(frames, paths):
        assert known_schema(spark, p) == spark.read.parquet(p).schema
        assert known_schema(spark, p).names == df.schema.names
        assert _jobs_to_build(spark, lambda p=p: read_parquet(spark, p)) == 0


def test_memo_stays_consistent_under_thread_contention():
    """More threads than cores updating and reading the memo past its
    bound, with a shortened switch interval: no lookup returns another
    key's schema, no thread dies, and the memo stays bounded."""
    import sys
    import threading
    from collections import OrderedDict

    from pyspark.sql.types import LongType, StructField, StructType

    from patientdataintegration_spark.plans import materialize as m

    saved = OrderedDict(m._SCHEMAS)
    n_threads, per_thread = 16, m._SCHEMAS_MAX // 8
    errors = []

    def work(t):
        try:
            for i in range(per_thread):
                key = ("contention", t, i)
                schema = StructType([StructField(f"c{t}_{i}", LongType())])
                m._memoize(key, schema)
                got = m._lookup(key)
                if got is not None and got != schema:
                    errors.append(key)
        except Exception as e:  # noqa: BLE001 - reported through the assert
            errors.append(repr(e))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    threads = [threading.Thread(target=work, args=(t,)) for t in range(n_threads)]
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
        alive = [th for th in threads if th.is_alive()]
        with m._SCHEMAS_LOCK:
            bounded = len(m._SCHEMAS) <= m._SCHEMAS_MAX
            m._SCHEMAS.clear()
            m._SCHEMAS.update(saved)
    assert not alive
    assert not errors
    assert bounded
