"""Physical-plan assertions: the scale-relevant properties (pushdown,
nested-column pruning, broadcast selection) must hold, not just the
results. These are the checks that catch a silent 100×-at-scale
regression while results stay correct."""

from __future__ import annotations

from pyspark.sql import functions as F

from ome_arrow_spark import suite, synth
from ome_arrow_spark.operators.describe import describe
from ome_arrow_spark.plans.tuning import (
    has_broadcast_join,
    pushed_filters,
    read_schema_columns,
)


def test_q1_filter_pushdown_and_pruning(spark, sf_dir):
    df = suite.q1_pricing_summary(spark, sf_dir)
    pf = " ".join(pushed_filters(df))
    assert "l_shipdate" in pf, f"shipdate filter not pushed: {pf}"
    rs = " ".join(read_schema_columns(df))
    # pruned scan: no keys/comments, just the 7 needed columns
    assert "l_orderkey" not in rs and "l_partkey" not in rs


def test_q5_broadcasts_dimensions(spark, sf_dir):
    df = suite.q5_revenue_by_nation(spark, sf_dir)
    assert has_broadcast_join(df)
    pf = " ".join(pushed_filters(df))
    assert "ASIA" in pf, "region filter should push into the region scan"


def test_filter_predicates_pushdown(spark, sf_dir):
    df = suite.filter_predicates(spark, sf_dir)
    pf = " ".join(pushed_filters(df))
    assert "o_totalprice" in pf and "In(o_orderstatus" in pf


def test_describe_prunes_pixel_payload(spark):
    imgs = synth.golden_images_df(spark, ids=["img-0001"])
    d = describe(imgs)
    plan = d._jdf.queryExecution().optimizedPlan().toString()
    assert "planes" not in plan, "describe must not touch the pixel payload"


def test_semi_join_stays_semi(spark, sf_dir):
    df = suite.join_semi(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan


def test_bucketed_join_avoids_shuffle(spark, sf_small, tmp_path):
    """Bucketed tables co-locate join keys at write time: the sort-merge
    join over two tables bucketed on the same key needs NO exchange —
    the 100 TB recipe for repeated large-large joins."""
    import uuid

    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    suffix = uuid.uuid4().hex[:8]
    orders = spark.read.parquet(f"{sf_small}/orders.parquet")
    li = spark.read.parquet(f"{sf_small}/lineitem.parquet")
    t_o, t_l = f"orders_b_{suffix}", f"lineitem_b_{suffix}"
    (orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable(t_o))
    (li.withColumnRenamed("l_orderkey", "o_orderkey")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable(t_l))
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the large-large (sort-merge) path the bucketing targets —
        # at fixture scale Spark would otherwise just broadcast
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        a, b = spark.table(t_o), spark.table(t_l)
        joined = a.join(b, "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "ShuffleExchange" not in plan and "Exchange hashpartitioning" not in plan, (
            f"bucketed join should not shuffle:\n{plan[:500]}"
        )
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql(f"DROP TABLE IF EXISTS {t_o}")
        spark.sql(f"DROP TABLE IF EXISTS {t_l}")


def test_q19_single_broadcast_join_with_postfilter(spark, sf_dir):
    """The disjunctive OR-of-conjunctions predicate must NOT degrade to
    a cartesian/nested-loop plan: one broadcast hash join on partkey,
    disjuncts evaluated post-join inside codegen."""
    from ome_arrow_spark import suite_tpch

    df = suite_tpch.q19_disjunctive_predicate(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q18_semi_join_broadcast(spark, sf_dir):
    """The qualifying-order HAVING list joins back as a broadcast
    LeftSemi — not a shuffled join of lineitem against itself."""
    from ome_arrow_spark import suite_tpch

    df = suite_tpch.q18_large_volume_customer(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan


def test_q21_single_lineitem_aggregation(spark, sf_dir):
    """The EXISTS/NOT-EXISTS rewrite keeps ONE pass over lineitem
    (per-order aggregate) instead of correlated re-scans: the executed
    plan scans lineitem exactly once."""
    from ome_arrow_spark import suite_tpch

    df = suite_tpch.q21_waiting_supplier(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("lineitem.parquet") == 1, (
        "q21 should aggregate lineitem once, not re-scan per subquery"
    )


def test_doc_fingerprint_no_shuffle(spark, sf_dir):
    """Winnowing fingerprints are a pure projection — zero exchanges."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["doc_fingerprint"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, "per-doc fingerprinting must not shuffle"


def _final_plan(df) -> str:
    """The executed plan's FINAL section only. Under AQE,
    ``executedPlan().toString()`` appends an ``== Initial Plan ==``
    section that repeats every node — counting exchanges on the whole
    string double-counts each one."""
    ep = df._jdf.queryExecution().executedPlan().toString()
    return ep.split("== Initial Plan ==")[0]


def test_sessionize_single_shuffle(spark, sf_dir):
    """Both sessionization windows and the final aggregate share one
    user_id partitioning — exactly one exchange end-to-end."""
    from ome_arrow_spark import suite_analytics

    df = suite_analytics.sessionize_events(spark, sf_dir)
    df.collect()
    ep = _final_plan(df)
    shuffles = ep.count("Exchange") - ep.count("BroadcastExchange")
    assert shuffles == 1, f"expected 1 shuffle, plan has {shuffles}"


def test_bucketed_join_query_colocated(spark, sf_small):
    """With broadcast disabled, the bucketed-table join must be a
    SortMergeJoin with NO exchange on either side (bucket-co-located)."""
    from ome_arrow_spark import suite_analytics

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = suite_analytics.bucketed_join(spark, sf_small)
        df.collect()
        ep = _final_plan(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in ep
    join_part = ep.split("SortMergeJoin")[1]
    # the countDistinct aggregate above the join may shuffle; the join
    # inputs themselves (below the SMJ node) must not
    assert "Exchange hashpartitioning" not in join_part, (
        "bucketed join inputs must not re-shuffle"
    )


def test_merge_incremental_single_shuffle_merge(spark, sf_dir):
    """The MERGE row_number dedup must be one hash partitioning on the
    merge key (plus the final small aggregate)."""
    from ome_arrow_spark import suite_formats

    df = suite_formats.merge_incremental(spark, sf_dir)
    df.collect()
    ep = _final_plan(df)
    shuffles = ep.count("Exchange") - ep.count("BroadcastExchange")
    assert shuffles <= 2, f"merge should shuffle on key + final agg only, got {shuffles}"


def test_kmeans_assignment_no_shuffle(spark, sf_dir):
    """Nearest-centroid assignment is a broadcast + HOF argmin — the
    final plan must contain NO shuffle exchange and O(1) expressions
    regardless of embedding dimensionality."""
    from pyspark.sql import functions as F

    from ome_arrow_spark.operators.clustering import assign_nearest, pack_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50)
    # isolate the operator: the fixture's limit() adds its own exchange
    v = emb.select("vec_id", F.col("embedding").alias("__v")).localCheckpoint(
        eager=True
    )
    cent = v.orderBy("vec_id").limit(3).select(
        F.lit(0).alias("cluster"),
        F.transform("__v", lambda x: x.cast("double")).alias("ctr"),
    )
    out = assign_nearest(v, pack_centroids(cent).localCheckpoint(eager=True), "vec_id")
    out.collect()
    ep = _final_plan(out)
    shuffles = ep.count("Exchange") - ep.count("BroadcastExchange")
    assert shuffles == 0, f"assignment must not shuffle:\n{ep[:800]}"


def test_cluster_means_dim_independent_plan(spark, sf_dir):
    """The centroid update is posexplode + two-level agg: the number of
    aggregate expressions must NOT scale with vector dim (the r2 design
    had one agg column per dimension)."""
    from pyspark.sql import functions as F

    from ome_arrow_spark.operators.clustering import cluster_means

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50)
    assigned = emb.select(
        (F.col("vec_id") % 3).alias("cluster"), F.col("embedding").alias("__v")
    )
    cm = cluster_means(assigned)
    plan = cm._jdf.queryExecution().optimizedPlan().toString()
    # dim=64 fixture: a per-dimension design would show ~64 sum() exprs
    assert plan.count("sum(") <= 3, "agg expressions must be O(1) in dim"
    cm.collect()
    ep = _final_plan(cm)
    shuffles = ep.count("Exchange") - ep.count("BroadcastExchange")
    assert shuffles <= 2, f"update = one (cluster,pos) shuffle + tiny reassembly, got {shuffles}"


def test_pagerank_broadcasts_rank_state(spark, sf_dir):
    """Each PageRank iteration must broadcast the (nodes-sized) rank
    table against the edge list — a SortMergeJoin there would shuffle
    the full edge list once per iteration at scale."""
    from ome_arrow_spark import suite_analytics

    df = suite_analytics.pagerank_nations(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_lm_bigram_broadcasts_count_tables(spark, sf_dir):
    """The vocab-sized unigram/bigram count tables join broadcast; the
    only shuffles are the count aggregations + the final doc agg."""
    from ome_arrow_spark import suite_llm

    df = suite_llm.lm_bigram_score(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_orc_roundtrip_prunes_partitions(spark, sf_dir):
    """The ORC read filters on the hive partition column: the filter
    must land in PartitionFilters (directory pruning at planning
    time), not as a post-scan row filter."""
    import re

    from ome_arrow_spark import suite

    df = suite.queries()["orc_partitioned_roundtrip"](spark, sf_dir)
    plan = df._jdf.queryExecution().toString()
    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("l_returnflag" in p and "= R" in p for p in pf), pf


def test_dv_read_is_broadcast_anti_join_over_pinned_files(spark, tmp_path):
    """A deletion-vector read must (a) scan EXACTLY the manifest's live
    files — no directory listing — and (b) drop deleted positions with
    a BROADCAST anti-join (the DV side is maintenance-bounded); a
    SortMergeJoin there would shuffle the whole table to apply a
    point delete."""
    from pyspark.sql import functions as F

    from ome_arrow_spark.sources import table_log as tl

    t = str(tmp_path / "tbl")
    df = spark.range(0, 5000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    tl.create_table(spark, df.repartitionByRange(4, "k"), t)
    tl.delete_from_table(spark, t, "k % 11 = 0", mode="dv")
    out = tl.read_table(spark, t)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    # the scan reads only the manifest's files (all 4 carry vectors)
    snap = tl._resolve_snapshot(t)
    import os

    live = {os.path.join(os.path.abspath(t), p) for p in snap["files"]}
    got = {f.replace("file://", "") for f in out.inputFiles()}
    assert got == live


def test_sq8_scoring_stays_in_plan(spark, sf_dir):
    """SQ8 quantize + score are Catalyst expressions over a broadcast
    query side: no Python UDF in the plan, no SortMergeJoin, corpus
    scanned once."""
    from ome_arrow_spark import suite_llm

    df = suite_llm.knn_cosine_sq8(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "SortMergeJoin" not in plan


def test_runtime_bloom_filter_injects_on_selective_join(spark, sf_dir):
    """Runtime Bloom-filter join pruning (cluster_defaults posture):
    a selective filter on the build side injects
    might_contain(xxhash64(key)) into the probe-side scan, cutting
    shuffle volume before the join. Defaults activate past a 10 GB
    probe scan (the 100 TB regime); locally we lower the threshold to
    prove the plan shape, and restore it after."""
    from pyspark.sql import functions as F

    thresh_key = (
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold"
    )
    bcast_keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    def _safe_get(k):
        try:
            return spark.conf.get(k)
        except Exception:
            return None

    old = {k: _safe_get(k) for k in (thresh_key, *bcast_keys)}
    try:
        spark.conf.set(thresh_key, "1KB")
        for k in bcast_keys:  # force a shuffle join; blooms skip BHJ
            spark.conf.set(k, "-1")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan
        # the filter guards the probe (lineitem) scan's key
        assert "xxhash64(l_orderkey" in plan
        # and the result is still right
        assert j.collect()[0]["o_orderpriority"] == "1-URGENT"
    finally:
        for k, v in old.items():
            try:
                if v in (None, ""):
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
            except Exception:
                spark.conf.unset(k)


def test_band_join_is_equi_join_not_nested_loop(spark, sf_dir):
    """suite_analytics.band_join_bucketed: the bucket-grid rewrite must
    produce a hash equi-join — a naive |a-b| <= delta condition alone
    would plan BroadcastNestedLoopJoin/CartesianProduct, which is the
    scale failure this operator exists to avoid. Results are verified
    against the naive theta join by the driver oracle; here we pin the
    plan shape and spot-check pair equivalence."""
    from pyspark.sql import functions as F

    from ome_arrow_spark.suite_analytics import band_join_bucketed

    df = band_join_bucketed(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan
    got = {
        (r["click_id"], r["purchase_id"], r["dt_us"]) for r in df.collect()
    }
    # naive theta-join reference on the same cohort
    from ome_arrow_spark.suite import _events

    ev = _events(spark, sf_dir).filter(F.col("user_id") % 20 == 3).select(
        "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    a = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("us").alias("a_us")
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("us").alias("b_us")
    )
    naive = a.join(
        b, F.abs(F.col("b_us") - F.col("a_us")) <= 3_600_000_000
    ).select(
        "click_id", "purchase_id", (F.col("b_us") - F.col("a_us")).alias("dt_us")
    )
    exp = {
        (r["click_id"], r["purchase_id"], r["dt_us"]) for r in naive.collect()
    }
    assert got == exp and len(got) > 0


def _true_exchanges(df) -> int:
    df.collect()  # finalize the AQE plan
    ep = (
        df._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    return ep.count("Exchange") - ep.count("BroadcastExchange")


def test_poisson_bootstrap_combines_mapside(spark, sf_dir):
    """suite_analytics.poisson_bootstrap_ci: the B=200 replicate
    explode must stay pre-shuffle (map-side combine hands the exchange
    B rows per task) — the plan may carry only the replicate agg, the
    tiny 200-row rank window, and the final agg exchanges, and no
    join beyond the two broadcast stitches of 1-row/200-row sides."""
    from ome_arrow_spark.suite_analytics import poisson_bootstrap_ci

    df = poisson_bootstrap_ci(spark, sf_dir)
    assert _true_exchanges(df) <= 3
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_covariance_matrix_two_exchanges(spark, sf_dir):
    """suite_llm.covariance_matrix: one groupBy(i,j) after the in-span
    pair explode plus the final 36-row orderBy — anything more means
    the explode leaked a shuffle."""
    from ome_arrow_spark.suite_llm import covariance_matrix

    df = covariance_matrix(spark, sf_dir)
    assert _true_exchanges(df) <= 2
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan  # single-table: any join is a bug


def test_seasonal_windows_run_on_daily_aggregate(spark, sf_dir):
    """suite_analytics.seasonal_decomposition: the SinglePartition
    7-day-MA window must consume the DAILY AGGREGATE (calendar-bounded
    ~2.4k rows), never the raw orders — pinned by requiring the
    pre-window HashAggregate and a broadcast for the 7-row seasonal
    join."""
    from ome_arrow_spark.suite_analytics import seasonal_decomposition

    df = seasonal_decomposition(spark, sf_dir)
    df.collect()
    ep = (
        df._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    w = ep.find("Window")
    assert w != -1
    assert "HashAggregate" in ep[w:], "window must sit on the daily agg"
    assert "BroadcastHashJoin" in ep or "BroadcastExchange" in ep


def test_rake_windows_partition_by_doc(spark, sf_dir):
    """suite_llm.rake_keywords: every window partitions by doc_id —
    no SinglePartition window may appear in the phrase-extraction
    path (the only global ordering is the final TakeOrdered top-15)."""
    from ome_arrow_spark.suite_llm import rake_keywords

    df = rake_keywords(spark, sf_dir)
    df.collect()
    ep = (
        df._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert "TakeOrderedAndProject" in ep
    for frag in ep.split("Window")[1:]:
        head = frag[:400]
        assert "SinglePartition" not in head.split("Exchange")[0], (
            "global window in RAKE path"
        )
