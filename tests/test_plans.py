"""Physical-plan shape assertions (SURVEY.md §4): the plans we
designed for are the plans Catalyst actually produces. These are the
100-TB-stance tests — they fail if someone reorders a transform in a
way that adds a shuffle or breaks pushdown."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from patientdataintegration_spark.plans.inspect import (
    count_shuffles,
    explain_str,
    has_broadcast_join,
    pushed_filters,
    scan_read_schema,
)
from patientdataintegration_spark.sources.catalog import load_table
from patientdataintegration_spark.suite.core import grouped_scores, tile_scores


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    df = li.filter(F.col("l_orderkey") == 42).select("l_orderkey", "l_quantity")
    pushed = pushed_filters(df)
    assert pushed and any("l_orderkey" in p for p in pushed)


def test_column_pruning(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    df = li.select("l_orderkey", "l_quantity")
    schemas = scan_read_schema(df)
    assert schemas and all(
        "l_orderkey" in s and "l_extendedprice" not in s for s in schemas
    )


def test_small_dim_join_broadcasts(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    df = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    assert has_broadcast_join(df)


def test_grouped_scores_at_most_one_shuffle(spark, sf_dir):
    # join on l_orderkey + groupBy the same key: at most ONE shuffle
    # total (the agg's; at small SF the join broadcasts, at large SF
    # a shuffle join's partitioning is reused by the agg).
    g = grouped_scores(spark, sf_dir)
    assert count_shuffles(g) <= 1
    plan = explain_str(g)
    assert "SortAggregate" not in plan  # min/avg keep it hash-aggregated


def test_partial_aggregation_present(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    df = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    plan = explain_str(df)
    # partial + final hash aggregate pairs around the exchange
    assert plan.count("HashAggregate") >= 2


def test_asof_join_single_shuffle(spark, sf_dir):
    """The tagged-union as-of join shuffles ONCE (the window's
    partition-by-key exchange) — never a range join / cartesian."""
    from patientdataintegration_spark.operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    j = asof_join(errors, clicks, on=["user_id"], payload=["value"])
    plan = explain_str(j)
    assert count_shuffles(j) == 1, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_sessionize_single_shuffle(spark, sf_dir):
    """lag-window, running-sum window, and the (user, session) agg all
    reuse the one hash partitioning on user_id."""
    from patientdataintegration_spark.operators.sessionize import sessionize

    e = load_table(spark, sf_dir, "events")
    s = sessionize(e, gap_seconds=43200)
    assert count_shuffles(s) == 1, explain_str(s)


def test_auroc_windows_over_histogram(spark, sf_dir):
    """AUROC's rank window must consume the per-score aggregate (a
    histogram), not raw rows: exactly one extra exchange beyond the
    grouped-scores input, and the window sits above a HashAggregate."""
    from patientdataintegration_spark.functions.metrics import auroc

    g = grouped_scores(spark, sf_dir)
    a = auroc(g, "label", "group_score", ["cohort"])
    base = count_shuffles(g)
    assert count_shuffles(a) <= base + 2  # (cohort,score) agg + cohort window
    plan = explain_str(a)
    assert "Window" in plan and plan.count("HashAggregate") >= 4


def test_ngram_jaccard_two_shuffles(spark, sf_dir):
    """Shingle group-by + pair group-by; the fan_out repartition is
    small-input-only and the size join is gone."""
    from patientdataintegration_spark.operators.dedup import ngram_jaccard_pairs

    d = load_table(spark, sf_dir, "documents")
    p = ngram_jaccard_pairs(d, block_col="source")
    plan = explain_str(p)
    assert "Join" not in plan, "size-lookup joins should be folded into the group-by"
    # <= 3: shingle agg + pair agg + (small-input fan_out round-robin)
    assert count_shuffles(p) <= 3, plan


def test_salted_join_equals_plain_join(spark, sf_dir):
    """Salting is a pure physical rewrite: results identical to the
    plain join, shuffle key widened to (key, salt)."""
    from patientdataintegration_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    o = o.withColumnRenamed("o_orderkey", "l_orderkey")
    plain = li.join(o, "l_orderkey").select(
        "l_orderkey", "l_linenumber", "l_quantity", "o_orderpriority"
    )
    salted = salted_join(
        li, o, on=["l_orderkey"], n_salts=4,
        salt_key_cols=["l_orderkey", "l_linenumber"],
    ).select("l_orderkey", "l_linenumber", "l_quantity", "o_orderpriority")
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_bucketed_join_no_shuffle(spark, sf_dir, tmp_path):
    """Bucketing both fact tables on the join key pre-partitions data
    at write time: the join then needs ZERO exchanges — the 100 TB
    recipe for repeated fact-fact joins (pay the shuffle once at
    ingest, never per query)."""
    db = "bucketdb"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql(f"CREATE DATABASE {db} LOCATION '{tmp_path / 'warehouse'}'")
    try:
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity"
        )
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority"
        )
        (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
            .saveAsTable(f"{db}.li_b"))
        (o.withColumnRenamed("o_orderkey", "l_orderkey")
            .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
            .saveAsTable(f"{db}.o_b"))
        li_b = spark.table(f"{db}.li_b")
        o_b = spark.table(f"{db}.o_b")
        # forbid broadcast so the assert can't pass vacuously at tiny SF:
        # the join must be sort-merge over the bucketed layout
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = li_b.join(o_b, "l_orderkey")
            plan = explain_str(joined)
            assert "SortMergeJoin" in plan, plan
            assert count_shuffles(joined) == 0, plan
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        joined = li_b.join(o_b, "l_orderkey")
        # and it computes the same rows as the shuffled plan
        plain = (
            load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
            .join(
                load_table(spark, sf_dir, "orders")
                .select(F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"),
                "l_orderkey",
            )
        )
        assert joined.count() == plain.count()
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_global_topk_avoids_full_sort(spark, sf_dir):
    from patientdataintegration_spark.suite.core import q49_global_topk

    plan = explain_str(q49_global_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_exists_decorrelates_to_semi_join(spark, sf_dir):
    from patientdataintegration_spark.suite.core import q50_exists_correlated

    plan = explain_str(q50_exists_correlated(spark, sf_dir))
    assert "LeftSemi" in plan, plan
    # decorrelated: no per-row subquery execution node survives
    assert "Subquery" not in plan, plan


def test_unpivot_is_single_expand_no_rescan(spark, sf_dir):
    from patientdataintegration_spark.suite.core import q52_unpivot

    df = q52_unpivot(spark, sf_dir)
    plan = explain_str(df)
    assert "Expand" in plan, plan
    # one scan, not a UNION of per-column re-scans (formatted explain
    # prints one "Location:" block per distinct scan node)
    assert plan.count("Location:") == 1, plan


def test_pivot_is_single_scan_single_agg_pass(spark, sf_dir):
    from patientdataintegration_spark.suite.core import q56_pivot_status

    plan = explain_str(q56_pivot_status(spark, sf_dir))
    # explicit value list => no extra distinct-discovery scan
    assert plan.count("Location:") == 1, plan


def test_anti_join_pushes_date_filter_to_scan(spark, sf_dir):
    from patientdataintegration_spark.suite.core import q57_not_exists_anti

    plan = explain_str(q57_not_exists_anti(spark, sf_dir))
    assert "LeftAnti" in plan, plan
    assert "GreaterThanOrEqual(o_orderdate" in plan, plan


def test_grouping_sets_is_one_expand_pass(spark, sf_dir):
    from patientdataintegration_spark.suite.core import q59_grouping_sets

    plan = explain_str(q59_grouping_sets(spark, sf_dir))
    assert "Expand" in plan, plan
    assert plan.count("Location:") == 1, plan


def test_nation_volume_broadcasts_filtered_dims(spark, sf_dir):
    from patientdataintegration_spark.suite.core import q66_nation_volume

    plan = explain_str(q66_nation_volume(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    # nation-name IN filter reaches the nation scan, not the joined fact
    assert "In(n_name" in plan or "n_name#" in plan, plan


def test_market_share_single_pass_ratio(spark, sf_dir):
    from patientdataintegration_spark.suite.core import q67_market_share

    plan = explain_str(q67_market_share(spark, sf_dir))
    # numerator+denominator in ONE aggregate: no self-join of two aggs.
    # 7 scans = 6 tables + nation read twice (supplier names / region
    # filter); a two-aggregate spelling would rescan the whole tree.
    assert plan.count("Location:") == 7, plan
    assert "LeftSemi" in plan, plan


def test_partitioned_write_prunes_on_read(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from patientdataintegration_spark.sources.catalog import load_table
    from patientdataintegration_spark.sources.parquet_io import (
        read_pruned,
        write_partitioned,
    )

    o = load_table(spark, sf_dir, "orders").withColumn(
        "yr", F.year("o_orderdate").cast("int")
    )
    path = str(tmp_path / "orders_by_year")
    write_partitioned(o, path, ["yr"])

    # one file per partition directory (small-files control)
    import glob as g

    for d in g.glob(f"{path}/yr=*"):
        files = [f for f in g.glob(f"{d}/*.parquet")]
        assert len(files) == 1, (d, files)

    pruned = read_pruned(spark, path, yr=1996)
    plan = explain_str(pruned)
    assert "PartitionFilters" in plan and "yr" in plan, plan
    want = o.filter(F.col("yr") == 1996).count()
    assert pruned.count() == want and want > 0


def test_compact_rewrites_to_target_file_count(spark, sf_dir, tmp_path):
    from patientdataintegration_spark.sources.catalog import load_table
    from patientdataintegration_spark.sources.parquet_io import compact

    src = str(tmp_path / "fragmented")
    out = str(tmp_path / "compacted")
    # fragment: 16 tiny files
    load_table(spark, sf_dir, "orders").repartition(16).write.parquet(src)
    n = compact(spark, src, out, target_file_mb=128)
    import glob as g

    assert n == 1
    assert len(g.glob(f"{out}/*.parquet")) == 1
    assert (
        spark.read.parquet(out).count() == load_table(spark, sf_dir, "orders").count()
    )


def test_fusion_battery_zero_shuffle(spark, sf_dir):
    from patientdataintegration_spark.suite.ext import q77_fusion_battery

    df = q77_fusion_battery(spark, sf_dir)
    assert count_shuffles(df) == 0


def test_chunking_single_fanout_exchange(spark, sf_dir):
    """Chunking is per-row: its only exchange is the deliberate
    fan_out repartition that widens the explode stage (a no-op at
    real data volumes); no aggregation/join shuffle may appear."""
    from patientdataintegration_spark.operators.textops import chunk_documents

    d = load_table(spark, sf_dir, "documents")
    assert count_shuffles(chunk_documents(d)) <= 1


def test_quantize_zero_shuffle(spark, sf_dir):
    from patientdataintegration_spark.operators.similarity import quantize_embeddings

    e = load_table(spark, sf_dir, "embeddings")
    assert count_shuffles(quantize_embeddings(e)) == 0


def test_lsh_cosine_topk_no_cartesian(spark, sf_dir):
    """q36's registered form must be an equi-join on the signature
    bucket — NEVER the |Q|x|C| cross join (the 100 TB contract)."""
    from patientdataintegration_spark.suite.ext import q36_cosine_topk

    plan = explain_str(q36_cosine_topk(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_contamination_bounded_shuffles(spark, sf_dir):
    """Shingle-hash semi-join plan: candidate explode (no shuffle),
    benchmark distinct (one exchange), the hash join, the per-doc
    agg — never a text-keyed or quadratic stage."""
    from pyspark.sql import functions as F

    from patientdataintegration_spark.operators.textops import contamination_check
    from patientdataintegration_spark.sources.catalog import load_table as lt

    d = lt(spark, sf_dir, "documents")
    out = contamination_check(
        d.filter(F.col("source") != "src0"), d.filter(F.col("source") == "src0")
    )
    assert count_shuffles(out) <= 4


def test_upsert_merge_reuses_key_partitioning(spark, sf_dir):
    """q101: the two latest-per-key windows each shuffle once on
    user_id and the FULL OUTER merge join reuses that partitioning —
    exactly 2 exchanges, never a third for the join."""
    from patientdataintegration_spark.suite.ext import q101_upsert_merge

    assert count_shuffles(q101_upsert_merge(spark, sf_dir)) == 2


def test_time_weighted_avg_single_shuffle(spark, sf_dir):
    """q102: LEAD window and per-user aggregate share one user_id
    exchange."""
    from patientdataintegration_spark.suite.ext import q102_time_weighted_avg

    assert count_shuffles(q102_time_weighted_avg(spark, sf_dir)) == 1


def test_variant_battery_zero_shuffle(spark, sf_dir):
    from patientdataintegration_spark.suite.ext import q103_variant_battery

    assert count_shuffles(q103_variant_battery(spark, sf_dir)) == 0


def test_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """Joining a partitioned fact to a FILTERED dim must prune fact
    partitions at runtime (DPP): the filter lives on the dim side, so
    static pruning can't see it — the plan instead carries a
    `dynamicpruning` subquery on the fact's partition column. This is
    the 100 TB shape: fact partitioned by date/key, dim filter decides
    which partitions exist for the scan."""
    from pyspark.sql import functions as F

    from patientdataintegration_spark.sources.catalog import load_table
    from patientdataintegration_spark.sources.parquet_io import write_partitioned

    o = load_table(spark, sf_dir, "orders").withColumn(
        "yr", F.year("o_orderdate").cast("int")
    )
    path = str(tmp_path / "orders_by_year_dpp")
    write_partitioned(o, path, ["yr"])
    fact = spark.read.parquet(path)

    dim = spark.createDataFrame(
        [(1996, "keep"), (1997, "drop")], "yr int, tag string"
    )
    # DPP plans the pruning subquery only when the dim side carries a
    # selective predicate (a bare small-table join won't trigger it)
    joined = (
        fact.join(dim.filter(F.col("tag") == "keep"), "yr")
        .select("o_orderkey", "tag")
    )
    plan = explain_str(joined)
    assert "dynamicpruning" in plan.lower(), plan
    want = o.filter(F.col("yr") == 1996).count()
    assert joined.count() == want and want > 0


def test_bucketed_join_has_zero_exchange(spark, sf_dir, tmp_path):
    """The bucketing contract: two tables bucketed on the join key
    with equal bucket counts join with NO shuffle Exchange at all —
    the write-time clustering replaced it."""
    from patientdataintegration_spark.sources.bucketing import (
        bucketed_join,
        write_bucketed,
    )

    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .withColumnRenamed("c_custkey", "o_custkey")
    )
    write_bucketed(o, "t_bkt_o", str(tmp_path / "o"), ["o_custkey"], 4)
    write_bucketed(c, "t_bkt_c", str(tmp_path / "c"), ["o_custkey"], 4)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bucketed_join(spark, "t_bkt_o", "t_bkt_c", ["o_custkey"])
        assert count_shuffles(j) == 0
        plan = explain_str(j)
        assert "SortMergeJoin" in plan and "SelectedBucketsCount" in plan
        # the bucketed layout also pre-partitions a groupBy on the key
        agg = j.groupBy("o_custkey").count()
        assert count_shuffles(agg) == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_profile_single_scan_single_agg(spark, sf_dir):
    """The profiler is ONE scan + one aggregate: exactly one parquet
    scan node and no more than one shuffle (the Expand-based
    multi-distinct agg), however many columns are profiled."""
    from patientdataintegration_spark.operators.profiling import profile

    li = load_table(spark, sf_dir, "lineitem")
    p = profile(
        li,
        numeric_cols=["l_quantity", "l_extendedprice"],
        string_cols=["l_returnflag", "l_linestatus"],
    )
    plan = explain_str(p)
    # exactly one numbered scan node (formatted mode repeats the
    # name in the details section, so count tree nodes)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert count_shuffles(p) <= 2  # distinct-expand agg + the tiny final sort


def test_asof_forward_nearest_single_shuffle(spark, sf_dir):
    """Forward and nearest as-of directions keep the single-shuffle
    tagged-union shape — no range join appears in any direction."""
    from patientdataintegration_spark.operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    for direction in ("forward", "nearest"):
        j = asof_join(
            errors, clicks, on=["user_id"], payload=["value"], direction=direction
        )
        plan = explain_str(j)
        assert count_shuffles(j) == 1, (direction, plan)
        assert "CartesianProduct" not in plan, direction
        assert "BroadcastNestedLoop" not in plan, direction


def test_sparse_cosine_no_cartesian(spark, sf_dir):
    """The sparse tf-idf similarity join pairs documents ONLY through
    the term equi-join — no cartesian/nested-loop anywhere, and the
    corpus-size frame is the only broadcast."""
    from patientdataintegration_spark.operators.textops import sparse_cosine_pairs
    from patientdataintegration_spark.sources.catalog import load_table as lt

    d = lt(spark, sf_dir, "documents")
    plan = explain_str(sparse_cosine_pairs(d, min_sim=0.3))
    assert "CartesianProduct" not in plan
    # the only nested-loop joins allowed are the 1-row corpus-count
    # broadcasts (crossJoin(broadcast(n_docs))); the doc-pair
    # generation itself must be the term equi-join
    assert re.search(r"Join.*\bterm\b", plan) or "term" in plan


def test_kmeans_centroids_broadcast(spark, sf_dir):
    """Every k-means assignment round joins against a k-row centroid
    frame — all those joins must be broadcasts (the embedding table
    is never shuffled for assignment)."""
    from patientdataintegration_spark.operators.clustering import kmeans_assign
    from patientdataintegration_spark.sources.catalog import load_table as lt

    e = lt(spark, sf_dir, "embeddings")
    plan = explain_str(kmeans_assign(e, k=4, iterations=1))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_fuzzy_join_blocked_not_cartesian(spark, sf_dir):
    """The fuzzy name join pairs only within the blocking key — the
    pair generation is an equi-join on the block, never a cartesian
    over the name table."""
    from patientdataintegration_spark.operators.dedup import fuzzy_name_pairs
    from patientdataintegration_spark.sources.catalog import load_table as lt

    p = lt(spark, sf_dir, "part")
    plan = explain_str(fuzzy_name_pairs(p, name_col="p_name"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scd2_single_shuffle(spark, sf_dir):
    """SCD2 history build is one window pass — exactly one exchange,
    no join at all."""
    from patientdataintegration_spark.operators.temporal import scd2_intervals
    from patientdataintegration_spark.sources.catalog import load_table as lt

    e = lt(spark, sf_dir, "events")
    df = scd2_intervals(e)
    plan = explain_str(df)
    assert count_shuffles(df) == 1, plan
    assert "Join" not in plan


def test_ext2_plan_shapes(spark, sf_dir):
    """Round-4 suite: the plan shapes the docstrings promise.

    - q145: no window over the FACT table (the r7 rewrite onto
      `ranking.global_row_number`; since r11 the O(P) prefix sum IS
      a window, but only over the P-row counts relation — every
      Window node must order on `_gr_pid`); the checkpointed default
      hides the upstream, so scan shape is asserted on the
      un-checkpointed variant (conf
      `spark.pdi.ranking.checkpoint=false`): TWO statically-planned
      scans (one per DAG consumer of the ranged relation — the
      counts branch collapsed from two consumers to one when the
      r11 rewrite dropped the triangular self-join; AQE's
      ReuseExchange collapses the remaining pair to one executed
      shuffle at runtime), each column-pruned to exactly the three
      ranked columns
    - q146: pivot is one scan + partial/final aggregate (2 exchanges
      max), no distinct-values pre-pass job
    - q147: ONE events scan (window-min cohort, not agg-join-back)
    - q151: windows and aggregates share the user_id partitioning
    - q155: the unpivot union column-prunes each branch to its one
      source column
    """
    from patientdataintegration_spark.suite import QUERIES

    def n_scans(df):
        # formatted plans print each scan twice (tree line + detail
        # header) — count only the numbered detail headers
        return len(re.findall(r"\(\d+\) Scan parquet", explain_str(df)))

    def only_counts_windows(plan, name):
        # r11: the O(P) prefix sum IS a window, but only over the
        # P-row counts relation — every Window node's detail block
        # (formatted explain splits tree lines from "(n) Window" +
        # Arguments) must order on _gr_pid; a window over the fact
        # table still fails
        lines = plan.splitlines()
        for i, ln in enumerate(lines):
            if re.match(r"\(\d+\) Window", ln.strip()):
                block = " ".join(lines[i : i + 5])
                assert "_gr_pid" in block, (
                    f"{name} plans a Window NOT over the counts"
                    f" relation: {block[:200]}"
                )

    q145 = QUERIES["q145_equidepth_histogram"](spark, sf_dir)
    only_counts_windows(explain_str(q145), "q145")
    spark.conf.set("spark.pdi.ranking.checkpoint", "false")
    try:
        q145_open = QUERIES["q145_equidepth_histogram"](spark, sf_dir)
    finally:
        spark.conf.unset("spark.pdi.ranking.checkpoint")
    open_plan = explain_str(q145_open)
    only_counts_windows(open_plan, "q145_open")
    assert n_scans(q145_open) == 2, open_plan
    open_schemas = set(scan_read_schema(q145_open))
    assert len(open_schemas) == 1 and all(
        s.count(":") == 3 and "l_extendedprice" in s for s in open_schemas
    ), open_schemas

    q146 = QUERIES["q146_pivot_lang"](spark, sf_dir)
    assert n_scans(q146) == 1
    assert count_shuffles(q146) <= 2

    q147 = QUERIES["q147_retention_cohorts"](spark, sf_dir)
    assert n_scans(q147) == 1, "cohort must not re-scan events"
    assert count_shuffles(q147) <= 2

    q151 = QUERIES["q151_activity_streaks"](spark, sf_dir)
    assert n_scans(q151) == 1
    assert count_shuffles(q151) <= 2

    q155 = QUERIES["q155_column_entropy"](spark, sf_dir)
    schemas = set(scan_read_schema(q155))  # dedup tree/detail repeats
    # three branches, each reading exactly one source column
    assert len(schemas) == 3
    assert all(s.count(":") == 1 for s in schemas), schemas


def test_snapshot_diff_single_scan_pair(spark, sf_dir):
    """q153: the two snapshot views derive from one table — Spark may
    scan twice (once per side) but each side is column-pruned to the
    3 compared columns."""
    from patientdataintegration_spark.suite import QUERIES

    q153 = QUERIES["q153_snapshot_diff"](spark, sf_dir)
    schemas = scan_read_schema(q153)
    assert schemas and all(
        "c_custkey" in s and "c_name" not in s and "c_address" not in s
        for s in schemas
    )


def test_plan_audit_flags_real_cartesians_only(spark, sf_dir):
    """The plan-audit nested-loop checker (tools/plan_audit.py) must
    flag a genuine quadratic join between two real relations and
    must NOT flag the sanctioned crossJoin-of-a-global-aggregate
    pattern this suite uses for scalar thresholds."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    from plan_audit import _unsanctioned_nested_loops

    from patientdataintegration_spark.plans.inspect import explain_str

    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")

    bad = c.crossJoin(s)  # two real relations -> quadratic
    assert _unsanctioned_nested_loops(explain_str(bad, "simple"))

    good = c.crossJoin(
        F.broadcast(s.agg(F.max("s_acctbal").alias("mx")))
    ).filter(F.col("c_acctbal") > F.col("mx"))
    assert _unsanctioned_nested_loops(explain_str(good, "simple")) == []


def test_observed_metrics_match_direct_aggregates(spark, sf_dir):
    """`observe` gauges ride the job itself (no second scan) and
    must equal an independently computed aggregate over the same
    frame — row count, null count, and the decimal-exact sum."""
    from pyspark.sql import Observation

    from patientdataintegration_spark.plans.observability import (
        quality_metric_exprs,
        run_observed,
        with_quality_metrics,
    )

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 10)
    metrics = run_observed(
        li, quality_metric_exprs(["l_returnflag"], ["l_extendedprice"])
    )
    direct = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("l_returnflag").isNull(), 1)).alias("nn"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,6)"))
        .cast("double")
        .alias("s"),
    ).collect()[0]
    assert metrics["n_rows"] == direct.n
    assert metrics["n_null_l_returnflag"] == direct.nn
    assert metrics["sum_l_extendedprice"] == direct.s

    # mid-pipeline form: gauges observed at an intermediate stage of
    # a larger job, read after the caller's own action
    obs = Observation("mid")
    staged = with_quality_metrics(li, obs, sum_cols=["l_quantity"])
    out = staged.groupBy("l_returnflag").count()
    out.write.format("noop").mode("overwrite").save()
    assert obs.get["n_rows"] == direct.n


def test_q235_window_group_limit_below_exchange(spark, sf_dir):
    """q235's reason to exist: the row_number()<=k filter must compile
    to WindowGroupLimit in Partial mode BELOW the shuffle — each map
    task keeps only k rows per group, so the exchange moves
    O(groups x k x tasks) rows, not the table."""
    from patientdataintegration_spark.suite import QUERIES

    plan = explain_str(QUERIES["q235_topk_per_group"](spark, sf_dir))
    detail = re.findall(r"\((\d+)\) (WindowGroupLimit|Exchange)\b", plan)
    kinds = [k for _, k in detail]
    # partial group-limit, then the shuffle, then the final group-limit
    assert kinds == ["WindowGroupLimit", "Exchange", "WindowGroupLimit"], plan
    assert "Partial" in plan


def test_q234_single_scan_single_aggregate(spark, sf_dir):
    """q234 is one pruned scan + one map-side-combined aggregate —
    the only plan a 100 TB integrity sweep can afford."""
    from patientdataintegration_spark.suite import QUERIES

    df = QUERIES["q234_table_checksum"](spark, sf_dir)
    plan = explain_str(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) == 2  # partial+final


def test_skew_advisor_integer_salt_factors(spark):
    """Exact fair-share math: with P=4 partitions over 100 rows the
    fair share is 25 — keys at 50 (salt 2), 26 (salt 2: ceil(1.04)),
    and 24 (under, absent) behave exactly as the integer formula
    says."""
    from pyspark.sql import functions as F

    from patientdataintegration_spark.operators.skew import skew_advisor

    rows = (
        [("hot",)] * 50 + [("warm",)] * 26 + [("cool",)] * 24
    )
    df = spark.createDataFrame(rows, "k string")
    out = {
        r["k"]: (r["cnt"], r["salt_factor"])
        for r in skew_advisor(df, ["k"], num_partitions=4).collect()
    }
    assert out == {"hot": (50, 2), "warm": (26, 2)}


def test_profiled_salted_join_spreads_hot_key(spark):
    """Advisor→executor wiring: the profile's salt factor becomes the
    executor's n_salts, the hot key's rows actually land in >1 salt
    bucket (the whole point of salting), and the result equals the
    plain join. A no-skew profile degrades to the plain join (no
    _salt in the plan)."""
    from pyspark.sql import functions as F

    from patientdataintegration_spark.functions.deterministic import (
        pseudo_random,
    )
    from patientdataintegration_spark.operators.skew import (
        profiled_n_salts,
        profiled_salted_join,
        skew_advisor,
    )

    rows = [("hot", i) for i in range(80)] + [
        (k, i) for i, k in enumerate(["a", "b", "c", "d"] * 5)
    ]
    large = spark.createDataFrame(rows, "k string, rid bigint")
    small = large.select("k").distinct().withColumn(
        "attr", F.length("k").cast("bigint")
    )
    n = profiled_n_salts(skew_advisor(large, ["k"], num_partitions=4))
    assert n >= 2  # 80/100 rows on one key, fair share 25
    got = profiled_salted_join(
        large, small, on=["k"], salt_key_cols=["rid"], num_partitions=4
    )
    plan = got._jdf.queryExecution().toString()
    assert "_salt" in plan  # the salted path was actually taken
    # the hot key's rows spread over >1 salt bucket
    spread = (
        large.filter("k = 'hot'")
        .select((pseudo_random(F.col("rid"), seed=42) % F.lit(n)).alias("s"))
        .distinct()
        .count()
    )
    assert spread > 1
    plain = large.join(small, "k")
    assert got.exceptAll(plain).count() == 0
    assert plain.exceptAll(got).count() == 0
    # no-skew profile -> plain join, no salt machinery
    flat = spark.createDataFrame(
        [(k, i) for i, k in enumerate(["a", "b", "c", "d"] * 5)],
        "k string, rid bigint",
    )
    got_flat = profiled_salted_join(
        flat, small, on=["k"], salt_key_cols=["rid"], num_partitions=4
    )
    assert "_salt" not in got_flat._jdf.queryExecution().toString()


def test_profiled_salted_join_stale_profile(spark):
    """The freshness contract (skew_advisor docstring): a STALE
    profile — computed before today's hot key appeared — degrades to
    the plain join for that key (correct results, unsalted spread),
    and a key that went cold keeps its stale salt factor (correct
    results, needless sub-splits). Correctness NEVER depends on
    profile freshness; only the shuffle layout does."""
    from pyspark.sql import functions as F

    from patientdataintegration_spark.operators.skew import (
        profiled_n_salts,
        profiled_salted_join,
        skew_advisor,
    )

    # yesterday: 'old_hot' dominated; today: 'new_hot' does
    yesterday = spark.createDataFrame(
        [("old_hot", i) for i in range(80)]
        + [(k, i) for i, k in enumerate(["a", "b", "new_hot", "d"] * 5)],
        "k string, rid bigint",
    )
    today = spark.createDataFrame(
        [("new_hot", i) for i in range(80)]
        + [(k, i) for i, k in enumerate(["a", "b", "old_hot", "d"] * 5)],
        "k string, rid bigint",
    )
    small = today.select("k").distinct().withColumn(
        "attr", F.length("k").cast("bigint")
    )
    stale = skew_advisor(yesterday, ["k"], num_partitions=4)
    # the stale profile names old_hot, not new_hot
    hot_keys = {r["k"] for r in stale.collect()}
    assert hot_keys == {"old_hot"}
    got = profiled_salted_join(
        today, small, on=["k"], salt_key_cols=["rid"], profile=stale,
        num_partitions=4,
    )
    # degraded spread: salting still engages (stale factor >= 2) but
    # today's actual hot key rides it only incidentally — the
    # CONTRACT under test is result equality, not layout optimality
    assert profiled_n_salts(stale) >= 2
    plain = today.join(small, "k")
    assert got.exceptAll(plain).count() == 0
    assert plain.exceptAll(got).count() == 0
    # an empty (very stale, all keys cooled) profile degrades to the
    # plain unsalted join — still correct
    empty = stale.filter(F.lit(False))
    got_empty = profiled_salted_join(
        today, small, on=["k"], salt_key_cols=["rid"], profile=empty,
        num_partitions=4,
    )
    assert "_salt" not in got_empty._jdf.queryExecution().toString()
    assert got_empty.exceptAll(plain).count() == 0
    assert plain.exceptAll(got_empty).count() == 0
