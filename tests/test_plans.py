"""Physical-plan shape assertions — the 100 TB scale contracts.

Correctness tests prove the small-SF answer; these prove the *plan*
is the one that survives a 1000-executor scale-up: filters reach the
parquet scan, small dims broadcast, nothing degenerates into a
nested-loop or cartesian join, aggregations combine map-side.
"""

from pyspark.sql import functions as F

from maillogsentinel_spark.plans import queries as Q

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q6_filters_and_columns_pushed_to_scan(spark):
    plan = _plan(Q.QUERIES["tpch_q6"](spark, SF))
    scan_line = next(ln for ln in plan.splitlines() if "FileScan parquet" in ln)
    # predicate pushdown reaches the scan node
    assert "DataFilters: [isnotnull(l_shipdate" in scan_line
    # column pruning: only the 4 referenced columns are read
    cols = scan_line.split("FileScan parquet [", 1)[1].split("]", 1)[0]
    assert "l_shipdate" in cols and "l_quantity" in cols
    assert "l_partkey" not in cols and "l_returnflag" not in cols


def test_geo_range_join_is_broadcast_not_nested_loop(spark):
    plan = _plan(Q.QUERIES["geo_range_join"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_mail_pipeline_rdns_is_broadcast(spark):
    plan = _plan(Q.QUERIES["mail_report_top10_today"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q1_aggregation_is_partial_then_final(spark):
    plan = _plan(Q.QUERIES["tpch_q1"](spark, SF))
    # map-side combine: partial_sum appears before the exchange
    assert "partial_sum" in plan
    assert plan.index("partial_sum") > plan.index("HashAggregate")


def test_top10_is_take_ordered_not_full_sort(spark):
    plan = _plan(Q.QUERIES["top10_usernames"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_knn_lsh_is_equi_join(spark):
    plan = _plan(Q.QUERIES["knn_lsh"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_jaccard_join_key_is_hashed_long(spark):
    from maillogsentinel_spark.operators.dedup import _doc_shingles

    docs = Q._t(spark, SF, "documents")
    sh = _doc_shingles(docs, "doc_id", "text", 3, None)
    assert dict(sh.dtypes)["sh"] == "bigint"


def test_semi_and_anti_joins_planned(spark):
    semi = _plan(Q.QUERIES["tpch_q4_semi"](spark, SF))
    anti = _plan(Q.QUERIES["tpch_q22_anti"](spark, SF))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti
    for p in (semi, anti):
        assert "CartesianProduct" not in p


def test_q8_market_share_all_dims_broadcast(spark):
    plan = _plan(Q.QUERIES["tpch_q8_market_share"](spark, SF))
    # 8-way join: part/supplier/nation/region sides must all broadcast;
    # only the fact-fact joins (lineitem⨝orders⨝customer) may shuffle
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q17_scalar_subquery_is_broadcast_self_join(spark):
    plan = _plan(Q.QUERIES["tpch_q17_small_qty"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q20_having_subquery_is_left_semi(spark):
    plan = _plan(Q.QUERIES["tpch_q20_qty_suppliers"](spark, SF))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q15_max_revenue_no_unpartitioned_window(spark):
    # the scalar max must NOT plan as a window over one partition
    # (single-task at scale); broadcast join against a 1-row agg instead
    plan = _plan(Q.QUERIES["tpch_q15_top_supplier"](spark, SF))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """write_bucketed: both sides bucketed on the join key -> the join
    plan has NO shuffle exchange (the 100 TB fact-fact join layout)."""
    from maillogsentinel_spark.sources.store import write_bucketed

    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_orderdate"
    )
    write_bucketed(
        li, "t_li_b", 4, ["l_orderkey"], ["l_orderkey"],
        path=str(tmp_path / "li_b"),
    )
    write_bucketed(
        orders, "t_ord_b", 4, ["o_orderkey"], ["o_orderkey"],
        path=str(tmp_path / "ord_b"),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast so the co-located path is what gets planned
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("t_li_b").join(
            spark.table("t_ord_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_li_b")
        spark.sql("DROP TABLE IF EXISTS t_ord_b")


def test_kmeans_assignment_broadcasts_centroids(spark):
    from maillogsentinel_spark.plans.queries import QUERIES

    df = QUERIES["kmeans_assign"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # centroid side is broadcast; the corpus is never shuffled for
    # assignment and nothing plans as an unhinted cartesian
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_tfidf_no_cartesian_and_windows_partitioned(spark):
    from maillogsentinel_spark.plans.queries import QUERIES

    df = QUERIES["doc_tfidf_topk"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the per-doc ranking window is partitioned (no global single-task sort)
    assert "Window" in plan and "windowspecdefinition(doc_id" in plan


def test_events_store_day_filter_prunes_partitions(spark, tmp_path):
    """The daily report's day selection over ``read_events`` must become a
    PartitionFilter on the date-partitioned store — scanning one day, not
    the history."""
    import datetime as dt

    from pyspark.sql import functions as F

    from maillogsentinel_spark.report.analyze import day_slice
    from maillogsentinel_spark.sources.store import read_events, write_events

    ev = spark.createDataFrame(
        [("s", f"2025-08-{d:02d} 10:00:00", f"1.1.1.{d}") for d in (1, 2, 3)],
        ["server", "ts_s", "ip"],
    ).select(
        "server", F.to_timestamp("ts_s").alias("ts"), "ip",
        F.to_date(F.to_timestamp("ts_s")).alias("event_date"),
    )
    path = str(tmp_path / "store")
    write_events(ev, path)
    got = day_slice(read_events(spark, path), dt.date(2025, 8, 2))
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "event_date" in plan.split(
        "PartitionFilters"
    )[1][:200]
    assert got.count() == 1


def test_fasttext_scorer_is_scan_only(spark):
    """The hashed linear classifier is a per-row array fold: no joins, no
    aggregations — the only Exchanges allowed are the final presentation
    sort's range partitioning plus the hash barrier under it
    (_barrier_sorted: the fold is a CodegenFallback HOF, so the sort's
    boundary sampling must read a materialized shuffle rather than
    re-execute the scoring pass — measured 0.63× at sf0.1)."""
    from maillogsentinel_spark.plans.queries import QUERIES

    df = QUERIES["quality_fasttext_score"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "HashAggregate" not in plan
    # range exchange for orderBy + the materialization barrier, nothing else
    assert plan.count("Exchange") <= 2


def test_token_budget_pack_window_is_per_source(spark):
    """The greedy cumulative sum must be partitioned by source (never a
    global single-task window)."""
    from maillogsentinel_spark.plans.queries import QUERIES

    df = QUERIES["docs_token_budget_pack"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(source" in plan


def test_gram_query_shuffles_only_partials(spark):
    """embedding_gram_int8's shuffle carries d² partials per partition,
    never vectors: the Python node sits below the only aggregation."""
    from maillogsentinel_spark.plans.queries import QUERIES

    df = QUERIES["embedding_gram_int8"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "MapInPandas" in plan
    # map-side partial merge: partial_sum below the exchange
    assert "partial_sum" in plan
