"""Physical-layout behaviors that matter at 100 TB: partition pruning
on partitioned writes, and approximate aggregates."""

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"


def test_partitioned_write_prunes(spark, tmp_path):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    out = str(tmp_path / "li_part")
    li.write.partitionBy("l_returnflag").mode("overwrite").parquet(out)

    pruned = spark.read.parquet(out).filter(F.col("l_returnflag") == "R")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # partition pruning: the filter must appear as a PartitionFilter on
    # the scan, not a post-scan row filter
    assert "PartitionFilters" in plan and "l_returnflag" in plan.split("PartitionFilters")[1].split("]")[0]
    assert pruned.count() == li.filter(F.col("l_returnflag") == "R").count()


def test_approx_count_distinct(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    row = li.agg(
        F.countDistinct("l_partkey").alias("exact"),
        F.approx_count_distinct("l_partkey", 0.02).alias("approx"),
    ).collect()[0]
    assert abs(row.approx - row.exact) / row.exact < 0.05


def test_percentile_approx(spark):
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    row = o.agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("exact"),
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("approx"),
    ).collect()[0]
    assert abs(row.approx - row.exact) / row.exact < 0.01


def test_map_side_queries_have_no_exchange(spark):
    """Per-document / per-vector operators must compile to shuffle-free
    plans (a scan at 100 TB, never a shuffle): doc quality stats,
    embedding quantization audit, chunking fan-out, PII scrub."""
    from semantic_similarity_system_using_aws_mapreduce_spark.workload import ALL_QUERIES

    for name in (
        "q_doc_quality",
        "q_embedding_quantization",
        "q_doc_chunks",
        "q_pii_redaction",
    ):
        df = ALL_QUERIES[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"{name} shuffles:\n{plan[:1500]}"


def test_filters_and_pruning_reach_the_scan(spark):
    """Predicate pushdown + column pruning evidence on representative
    workload queries: the scan node must carry PushedFilters for the
    query's selective predicate, and ReadSchema must contain only the
    columns the query touches (a 2-column projection reading 16 columns
    is wrong at 100 TB)."""
    from semantic_similarity_system_using_aws_mapreduce_spark.workload import ALL_QUERIES

    cases = {
        # query -> (a pushed-filter fragment, a column that must NOT be read)
        "q01_pricing_summary": ("l_shipdate", "l_comment"),
        "q03_shipping_priority": ("c_mktsegment", "c_comment"),
        "q_semi_join": ("o_orderstatus", "o_comment"),
    }
    for name, (pushed_col, pruned_col) in cases.items():
        plan = ALL_QUERIES[name](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        scans = [seg for seg in plan.split("FileScan") if "PushedFilters" in seg]
        assert scans, f"{name}: no parquet scan with PushedFilters\n{plan[:1200]}"
        assert any(
            pushed_col in seg.split("PushedFilters")[1].split("]")[0] for seg in scans
        ), f"{name}: {pushed_col} not pushed to any scan"
        assert pruned_col not in plan.split("ReadSchema")[1].split("\n")[0] if "ReadSchema" in plan else True
        assert pruned_col not in plan, f"{name}: reads pruned column {pruned_col}"


def test_spread_small_scan_is_a_noop_on_well_split_tables(spark, tmp_path):
    """The guard that makes spread_small_scan safe at scale: a scan
    that already has >= defaultParallelism/2 splits (any real
    multi-file table) passes through UNTOUCHED — no repartition, no
    extra exchange; only the pathological one-file fixture case
    respreads."""
    from pyspark.sql import functions as F

    from semantic_similarity_system_using_aws_mapreduce_spark.sources.tables import spread_small_scan

    p = spark.sparkContext.defaultParallelism
    many = str(tmp_path / "many_files")
    spark.range(10_000).withColumn("t", F.lit("x")).repartition(p).write.parquet(many)
    df = spark.read.parquet(many)
    assert df.rdd.getNumPartitions() * 2 >= p
    out = spread_small_scan(df)
    assert out is df  # identity, not just same count: zero plan change

    one = str(tmp_path / "one_file")
    spark.range(1000).coalesce(1).write.parquet(one)
    df1 = spark.read.parquet(one)
    out1 = spread_small_scan(df1)
    if p > 2:
        assert out1.rdd.getNumPartitions() == p
    else:  # guard legitimately no-ops when 1 split already covers p<=2
        assert out1 is df1
