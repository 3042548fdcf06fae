"""Relational operator coverage over the TPC-H-ish fixture tables.

Each query exercises one row of the SURVEY.md §2 inventory with the
idiomatic Spark construct; the shuffle story is noted per query since
that is what changes at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape (A1/A2: grouped aggregation with map-side partial
    agg — the reference's combiner for free).  One shuffle on the tiny
    group key."""
    l = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 4).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: dim-filtered 3-way join + top-k.  customer is
    small -> broadcast; orders⋈lineitem shuffles on orderkey."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-09-02"))
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-09-02"))
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def q05_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join; region/nation broadcast, the
    customer-supplier co-nation predicate rides the join."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def q_part_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ broadcast dim (J3 shape: small side ships to every
    executor, no fact shuffle before the aggregation)."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            ),
            F.round(F.avg("p_retailprice"), 6).alias("avg_retail"),
            F.count("*").alias("n_items"),
        )
    )


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS; the reference's containsKey gate J3)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"), F.round(F.sum("c_acctbal"), 4).alias("acctbal"))
    )


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): parts never shipped before 1996
    (unfiltered, every part has shipments — the date filter keeps the
    result non-vacuous at every scale factor)."""
    p = _t(spark, sf_dir, "part")
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") < F.lit("1996-01-01")
    )
    return (
        p.join(l, F.col("p_partkey") == F.col("l_partkey"), "left_anti")
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_unsold"))
    )


def q_full_outer_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 shape on TPC-H data: per part, align the quantity sums of the
    'R' and 'A' return-flag subsets (zero-filled full-outer alignment
    expressed as ONE grouped conditional aggregation — the same plan
    pair_vectors uses), then Manhattan-style |x - y| per brand."""
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag").isin("R", "A"))
    p = _t(spark, sf_dir, "part")
    aligned = l.groupBy("l_partkey").agg(
        F.coalesce(
            F.sum(F.when(F.col("l_returnflag") == "R", F.col("l_quantity"))), F.lit(0.0)
        ).alias("qty_r"),
        F.coalesce(
            F.sum(F.when(F.col("l_returnflag") == "A", F.col("l_quantity"))), F.lit(0.0)
        ).alias("qty_a"),
    )
    return (
        aligned.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.round(F.sum(F.abs(F.col("qty_r") - F.col("qty_a"))), 4).alias("manhattan_qty"),
            F.count("*").alias("n_parts"),
        )
    )


def q_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer: window row_number (§2.7 — built-in
    surface the reference lacks)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 4).alias("totalprice"), "rn")
    )


def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running revenue per customer over order date (window running
    sum)."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 4).alias("running_total"),
    )


def q_tagged_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's R1 tagged union (3 aggregations through one
    logical surface, Step1.java:63-70) as UNION ALL of typed counts."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    status = o.groupBy(F.col("o_orderstatus").alias("key")).agg(
        F.count("*").alias("cnt")
    ).select(F.lit("status").alias("kind"), "key", "cnt")
    prio = o.groupBy(F.col("o_orderpriority").alias("key")).agg(
        F.count("*").alias("cnt")
    ).select(F.lit("priority").alias("kind"), "key", "cnt")
    flag = l.groupBy(F.col("l_returnflag").alias("key")).agg(
        F.count("*").alias("cnt")
    ).select(F.lit("returnflag").alias("kind"), "key", "cnt")
    return status.unionByName(prio).unionByName(flag)


def q_acctbal_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 shape: global scalar total via broadcast cross-join of a
    1-row aggregate (the reference's counters side-file, eliminated)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    total = c.agg(F.sum("c_acctbal").alias("total_bal"))
    return (
        c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum("c_acctbal").alias("bal"))
        .crossJoin(F.broadcast(total))
        .select(
            "n_name",
            F.round(F.col("bal"), 4).alias("nation_bal"),
            F.round(F.col("bal") / F.col("total_bal"), 6).alias("share"),
        )
    )


def q_nations_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT set op: nations present on both customer and supplier
    sides."""
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    cust_nations = c.join(
        F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("n_name")
    supp_nations = s.join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("n_name")
    return cust_nations.intersect(supp_nations)


def q_nations_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT set op: nations with customers but no suppliers."""
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    cust_nations = c.join(
        F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("n_name")
    supp_nations = s.join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("n_name")
    return cust_nations.exceptAll(supp_nations).distinct()


def q_rollup_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (grouping-set aggregation)."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 4).alias("sum_qty"), F.count("*").alias("n"))
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n",
        )
    )


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general form cube/rollup desugar
    to: exactly the requested grouping combinations ((flag, status),
    (flag), ()), no others, one Expand + one aggregation."""
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").createOrReplaceTempView(
        "lineitem_gs"
    )
    return spark.sql(
        """
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               round(sum(l_quantity), 4) AS sum_qty,
               count(*) AS n
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


def q_rank_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist — the distribution-valued window ranks
    (the rest of the rank family lives in q_window_functions)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.percent_rank().over(w), 6).alias("price_pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("price_cume_dist"),
    )


def q_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — bag (multiset) difference, keeping multiplicity:
    per order key, R-flag lineitem occurrences minus A-flag occurrences
    (the DISTINCT set-ops live in q_nations_except/_intersect)."""
    l = _t(spark, sf_dir, "lineitem")
    r = l.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    a = l.filter(F.col("l_returnflag") == "A").select("l_orderkey")
    return r.exceptAll(a).groupBy("l_orderkey").agg(F.count("*").alias("n_surplus"))


def q_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — bag intersection (min of the two sides'
    multiplicities per value)."""
    l = _t(spark, sf_dir, "lineitem")
    r = l.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    a = l.filter(F.col("l_returnflag") == "A").select("l_orderkey")
    return r.intersectAll(a).groupBy("l_orderkey").agg(F.count("*").alias("n_common"))


def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot via conditional aggregation (engine-portable form)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.sum((F.col("o_orderstatus") == "O").cast("long")).alias("n_open"),
        F.sum((F.col("o_orderstatus") == "F").cast("long")).alias("n_filled"),
        F.sum((F.col("o_orderstatus") == "P").cast("long")).alias("n_pending"),
    )


def q_having_big_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total_spent"),
        )
        .filter(F.col("n_orders") >= 15)
    )


def q_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) — exact distinct aggregation (expand + 2-phase
    agg under the hood)."""
    l = _t(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


def q_sketch_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates — the 100 TB cardinality/quantile operators
    (HyperLogLog++ approx distinct, GK approx percentile).  At scale
    the exact forms are shuffle-heavy (count-distinct expands rows,
    percentile sorts groups); sketches are single-pass, mergeable,
    fixed-size state.

    Oracle design: the exact aggregates are hash-checked value-for-
    value; sketch results are asserted as tolerance BOOLEANS computed
    Spark-side against the exact values in the same plan (the oracle
    emits literal TRUE) — the acceptance-test pattern used for ANN
    recall.  Sketches are order-insensitive (HLL register maxes merge
    commutatively), so the flags are deterministic for a fixed dataset.
    Thresholds: 5x the configured HLL rsd (0.02), 1% relative on the
    median vs a 1/10000 rank-error sketch."""
    l = _t(spark, sf_dir, "lineitem")
    # Exact and sketch branches aggregate separately and meet on the
    # 3-row group key: mixing count(DISTINCT) with the other aggregates
    # in one agg triggers Catalyst's distinct rewrite, which carries
    # the percentile/sketch partial buffers per (flag, orderkey) group
    # through the first shuffle (a 400+-column ObjectHashAggregate).
    # The SAME rewrite would fire inside the exact branch itself
    # (countDistinct + percentile together keyed the partial percentile
    # buffer — every group's value list — by (flag, orderkey): ~150k
    # serialized ObjectHashAggregate buffers through the exchange).
    # Split the exact branch too: the distinct count becomes a plain
    # two-level aggregate (distinct projection -> count, partial-agg
    # friendly, narrow rows), and the percentile keys its buffers by
    # the 6-value flag alone.  Measured sf0.1 min-of-3: 2.56 -> 1.70 s;
    # plan drops the (flag, orderkey)-keyed percentile exchange.
    # Persisting the 3-column projection across branches measured ~10%
    # and stays out: not worth cache memory at scale.
    n_orders = (
        l.select("l_returnflag", "l_orderkey")
        .distinct()
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_orders"))
    )
    p50 = l.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("p50_exact"),
    )
    exact = n_orders.join(p50, "l_returnflag")
    approx = l.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.02).alias("n_approx"),
        F.expr("approx_percentile(l_extendedprice, 0.5, 10000)").alias("p50_approx"),
    )
    return exact.join(approx, "l_returnflag").select(
        "l_returnflag",
        "n_orders",
        (F.abs(F.col("n_approx") - F.col("n_orders")) / F.col("n_orders") <= 0.10).alias("hll_ok"),
        F.round("p50_exact", 6).alias("p50_price"),
        (F.abs(F.col("p50_approx") - F.col("p50_exact")) / F.col("p50_exact") <= 0.01).alias(
            "quantile_sketch_ok"
        ),
    )


#: quantile-sketch parameters (q_quantile_sketch)
QSK_PROBS = [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
QSK_K = 256


def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable bounded-state quantile estimation
    (operators/sampling.quantile_sketch): a deterministic hash-bottom-k
    sample (k={QSK_K} rows of state however large the table — the KMV
    idea pointed at quantiles) yields interpolated estimates, audited
    in-query against the exact full-sort percentiles with a rank-space
    check (|CDF(estimate) - p| <= 0.1, ~2.5x the 2/sqrt(k) standard
    error).  Hash-verifies EXACTLY because the hash picks the sample —
    no RNG, no reservoir order dependence; the same property makes the
    sample exactly mergeable across shards and micro-batches."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.sampling import quantile_sketch

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    est = quantile_sketch(o, "o_totalprice", "o_orderkey", QSK_PROBS, k=QSK_K)
    # rank-space audit: one broadcast of the 6-row estimate relation,
    # one partial-aggregated pass over the table
    cdf = (
        o.crossJoin(F.broadcast(est))
        .groupBy("prob")
        .agg(
            F.avg((F.col("o_totalprice") <= F.col("estimate")).cast("int")).alias(
                "_cdf"
            ),
            F.first("estimate").alias("_est"),
        )
    )
    return cdf.select(
        F.round("prob", 2).alias("prob"),
        F.round("_est", 6).alias("estimate"),
        (F.abs(F.col("_cdf") - F.col("prob")) <= 0.1).cast("int").alias("ok"),
    )


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (sort-based aggregate)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(o_totalprice, 0.99)"), 6).alias("p99"),
    )


def q_date_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar bucketing: orders and revenue per year-month."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mo")
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        )
    )


def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string functions: LIKE filter, substring extraction,
    length, case mapping."""
    p = _t(spark, sf_dir, "part")
    return (
        p.filter(F.col("p_type").like("%ECO%"))
        .select(
            "p_partkey",
            F.upper(F.col("p_brand")).alias("brand_uc"),
            F.substring(F.col("p_brand"), 7, 2).alias("brand_num"),
            F.length(F.col("p_name")).alias("name_len"),
        )
    )


def q_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered set aggregation to a scalar: sorted distinct nation list
    per region."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_set("n_name")), ",").alias("nations"),
            F.countDistinct("n_name").alias("n_nations"),
        )
    )


def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide -> long) of per-priority status counts."""
    wide = q_pivot_status(spark, sf_dir)
    return wide.unpivot(
        ids=["o_orderpriority"],
        values=["n_open", "n_filled", "n_pending"],
        variableColumnName="status_kind",
        valueColumnName="cnt",
    )


def q_cube_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions (all 4 grouping sets)."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.cube("l_returnflag", "l_linestatus")
        .agg(F.round(F.avg("l_discount"), 6).alias("avg_disc"), F.count("*").alias("n"))
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
            "avg_disc",
            "n",
        )
    )


def q_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape: customers above their nation's mean
    acctbal (window-aggregate formulation on the Spark side)."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey")
    return (
        c.withColumn("nation_avg", F.avg("c_acctbal").over(w))
        .filter(F.col("c_acctbal") > F.col("nation_avg"))
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_above"),
            F.round(F.max("c_acctbal"), 4).alias("max_bal"),
        )
    )


def q_window_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function suite beyond row_number: lag, lead, rank,
    dense_rank, ntile over per-customer order sequences."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wp = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.lag("o_totalprice").over(w), 4).alias("prev_price"),
        F.round(F.lead("o_totalprice").over(w), 4).alias("next_price"),
        F.rank().over(wp).alias("price_rank"),
        F.dense_rank().over(wp).alias("price_dense_rank"),
        F.ntile(4).over(wp).alias("price_quartile"),
    )


STATS_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_shipdate"]


def q_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style per-column statistics — the optimizer-stats /
    data-profiling pass: one row per audited lineitem column with row
    count, null count, min/max, exact NDV and an HLL-vs-exact
    acceptance flag.

    The 100 TB shape is the approx branch: ONE single-pass aggregation
    computes every column's HLL sketch together (fixed-size mergeable
    state, no expand).  The exact-NDV branch exists only to audit the
    sketches (the q_sketch_accuracy pattern) and deliberately runs as
    per-column aggregations over 1-column pruned scans, because
    stacking several count(DISTINCT)s into one agg triggers
    Catalyst's expand rewrite (documented at q_sketch_accuracy).
    min/max surface as strings so one schema fits bigint and date
    columns; both engines render them identically."""
    l = _t(spark, sf_dir, "lineitem")
    approx_row = l.agg(
        *[
            F.approx_count_distinct(c, 0.02).alias(f"a_{c}")
            for c in STATS_COLS
        ]
    )
    per_col = []
    for c in STATS_COLS:
        per_col.append(
            l.select(F.col(c)).agg(
                F.lit(c).alias("column_name"),
                F.count(F.lit(1)).alias("n_rows"),
                (F.count(F.lit(1)) - F.count(c)).alias("n_nulls"),
                F.min(c).cast("string").alias("min_value"),
                F.max(c).cast("string").alias("max_value"),
                F.countDistinct(c).alias("ndv"),
            )
        )
    exact = per_col[0]
    for df in per_col[1:]:
        exact = exact.unionByName(df)
    approx_pick = F.coalesce(
        *[
            F.when(F.col("column_name") == c, F.col(f"a_{c}"))
            for c in STATS_COLS
        ]
    )
    return (
        exact.crossJoin(F.broadcast(approx_row))
        .select(
            "column_name",
            "n_rows",
            "n_nulls",
            "min_value",
            "max_value",
            "ndv",
            (
                F.abs(approx_pick - F.col("ndv")) / F.col("ndv") <= 0.10
            ).alias("hll_ok"),
        )
    )


QUERIES = {
    "q_table_stats": q_table_stats,
    "q01_pricing_summary": q01_pricing_summary,
    "q_window_functions": q_window_functions,
    "q_percentiles": q_percentiles,
    "q_quantile_sketch": q_quantile_sketch,
    "q_date_buckets": q_date_buckets,
    "q_string_funcs": q_string_funcs,
    "q_array_agg": q_array_agg,
    "q_unpivot": q_unpivot,
    "q_cube_qty": q_cube_qty,
    "q_above_nation_avg": q_above_nation_avg,
    "q03_shipping_priority": q03_shipping_priority,
    "q05_local_supplier": q05_local_supplier,
    "q_part_brand_revenue": q_part_brand_revenue,
    "q_semi_join": q_semi_join,
    "q_anti_join": q_anti_join,
    "q_full_outer_align": q_full_outer_align,
    "q_window_topk": q_window_topk,
    "q_running_total": q_running_total,
    "q_tagged_union": q_tagged_union,
    "q_acctbal_share": q_acctbal_share,
    "q_nations_intersect": q_nations_intersect,
    "q_nations_except": q_nations_except,
    "q_rollup_qty": q_rollup_qty,
    "q_pivot_status": q_pivot_status,
    "q_having_big_customers": q_having_big_customers,
    "q_distinct_counts": q_distinct_counts,
    "q_sketch_accuracy": q_sketch_accuracy,
    "q_grouping_sets": q_grouping_sets,
    "q_rank_distribution": q_rank_distribution,
    "q_except_all": q_except_all,
    "q_intersect_all": q_intersect_all,
}

ORACLES = {
    # hll_ok is a Spark-side acceptance flag (the q_sketch_accuracy
    # pattern): the oracle asserts it must come back TRUE
    "q_table_stats": "\n        UNION ALL\n".join(
        f"""
        SELECT '{c}' AS column_name,
               count(*)::BIGINT AS n_rows,
               (count(*) - count({c}))::BIGINT AS n_nulls,
               CAST(min({c}) AS VARCHAR) AS min_value,
               CAST(max({c}) AS VARCHAR) AS max_value,
               count(DISTINCT {c})::BIGINT AS ndv,
               TRUE AS hll_ok
        FROM lineitem"""
        for c in STATS_COLS
    ),
    "q_window_functions": """
        SELECT o_custkey, o_orderkey,
               round(lag(o_totalprice) OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey), 4) AS prev_price,
               round(lead(o_totalprice) OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey), 4) AS next_price,
               rank() OVER (PARTITION BY o_custkey
                     ORDER BY o_totalprice DESC, o_orderkey) AS price_rank,
               dense_rank() OVER (PARTITION BY o_custkey
                     ORDER BY o_totalprice DESC, o_orderkey) AS price_dense_rank,
               ntile(4) OVER (PARTITION BY o_custkey
                     ORDER BY o_totalprice DESC, o_orderkey) AS price_quartile
        FROM orders
    """,
    "q_percentiles": """
        SELECT o_orderstatus,
               round(quantile_cont(o_totalprice, 0.5), 6) AS p50,
               round(quantile_cont(o_totalprice, 0.9), 6) AS p90,
               round(quantile_cont(o_totalprice, 0.99), 6) AS p99
        FROM orders GROUP BY o_orderstatus
    """,
    # deterministic hash-bottom-k sample -> interpolated estimates ->
    # rank-space audit vs the full table; mirrors
    # operators/sampling.quantile_sketch expression for expression
    "q_quantile_sketch": """
        WITH sample AS (
            SELECT o_totalprice FROM orders
            ORDER BY ('0x' || substr(md5('qsk:' || o_orderkey::VARCHAR), 1, 15))::BIGINT,
                     o_orderkey
            LIMIT 256
        ),
        est AS (
            SELECT 0.1::DOUBLE AS prob, quantile_cont(o_totalprice, 0.1) AS estimate FROM sample
            UNION ALL SELECT 0.25::DOUBLE, quantile_cont(o_totalprice, 0.25) FROM sample
            UNION ALL SELECT 0.5::DOUBLE, quantile_cont(o_totalprice, 0.5) FROM sample
            UNION ALL SELECT 0.75::DOUBLE, quantile_cont(o_totalprice, 0.75) FROM sample
            UNION ALL SELECT 0.9::DOUBLE, quantile_cont(o_totalprice, 0.9) FROM sample
            UNION ALL SELECT 0.99::DOUBLE, quantile_cont(o_totalprice, 0.99) FROM sample
        ),
        cdf AS (
            SELECT prob, estimate,
                   avg((o_totalprice <= estimate)::INT) AS c
            FROM orders CROSS JOIN est GROUP BY prob, estimate
        )
        SELECT round(prob, 2) AS prob,
               round(estimate, 6) AS estimate,
               (abs(c - prob) <= 0.1)::INT AS ok
        FROM cdf
    """,
    "q_date_buckets": """
        SELECT year(o_orderdate)::INT AS yr, month(o_orderdate)::INT AS mo,
               count(*) AS n_orders,
               round(sum(o_totalprice), 4) AS revenue
        FROM orders GROUP BY 1, 2
    """,
    "q_string_funcs": """
        SELECT p_partkey,
               upper(p_brand) AS brand_uc,
               substr(p_brand, 7, 2) AS brand_num,
               length(p_name)::INT AS name_len
        FROM part WHERE p_type LIKE '%ECO%'
    """,
    "q_array_agg": """
        SELECT r_name,
               string_agg(DISTINCT n_name, ',' ORDER BY n_name) AS nations,
               count(DISTINCT n_name) AS n_nations
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
    """,
    "q_unpivot": """
        WITH wide AS (
            -- count(*) FILTER, not sum(CASE ...): DuckDB types the latter
            -- as HUGEINT (int128) while Spark emits BIGINT, and the
            -- driver's value hash is type-sensitive.
            SELECT o_orderpriority,
                   count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
                   count(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
                   count(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending
            FROM orders GROUP BY o_orderpriority)
        SELECT o_orderpriority, 'n_open' AS status_kind, n_open AS cnt FROM wide
        UNION ALL
        SELECT o_orderpriority, 'n_filled', n_filled FROM wide
        UNION ALL
        SELECT o_orderpriority, 'n_pending', n_pending FROM wide
    """,
    "q_cube_qty": """
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               round(avg(l_discount), 6) AS avg_disc,
               count(*) AS n
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    "q_above_nation_avg": """
        SELECT c_nationkey, count(*) AS n_above,
               round(max(c_acctbal), 4) AS max_bal
        FROM customer c
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer c2
                           WHERE c2.c_nationkey = c.c_nationkey)
        GROUP BY c_nationkey
    """,
    "q01_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 4) AS sum_qty,
               round(sum(l_extendedprice), 4) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
               round(avg(l_quantity), 6) AS avg_qty,
               round(avg(l_extendedprice), 6) AS avg_price,
               round(avg(l_discount), 6) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    "q03_shipping_priority": """
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-09-02'
          AND l_shipdate > TIMESTAMP '1998-09-02'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    "q05_local_supplier": """
        SELECT r_name, n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE c_nationkey = s_nationkey
        GROUP BY r_name, n_name
    """,
    "q_part_brand_revenue": """
        SELECT p_brand,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
               round(avg(p_retailprice), 6) AS avg_retail,
               count(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
    """,
    "q_semi_join": """
        SELECT c_mktsegment, count(*) AS n_customers,
               round(sum(c_acctbal), 4) AS acctbal
        FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        GROUP BY c_mktsegment
    """,
    "q_anti_join": """
        SELECT p_brand, count(*) AS n_unsold
        FROM part
        WHERE NOT EXISTS (SELECT 1 FROM lineitem
                          WHERE l_partkey = p_partkey
                            AND l_shipdate < TIMESTAMP '1996-01-01')
        GROUP BY p_brand
    """,
    "q_full_outer_align": """
        WITH aligned AS (
            SELECT l_partkey,
                   coalesce(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 0) AS qty_r,
                   coalesce(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 0) AS qty_a
            FROM lineitem
            WHERE l_returnflag IN ('R', 'A')
            GROUP BY l_partkey
        )
        SELECT p_brand,
               round(sum(abs(qty_r - qty_a)), 4) AS manhattan_qty,
               count(*) AS n_parts
        FROM aligned JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
    """,
    "q_window_topk": """
        SELECT o_custkey, o_orderkey, round(o_totalprice, 4) AS totalprice, rn
        FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey) AS rn
            FROM orders
        )
        WHERE rn <= 3
    """,
    "q_running_total": """
        SELECT o_custkey, o_orderkey,
               round(sum(o_totalprice) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_total
        FROM orders
    """,
    "q_tagged_union": """
        SELECT 'status' AS kind, o_orderstatus AS key, count(*) AS cnt
        FROM orders GROUP BY o_orderstatus
        UNION ALL
        SELECT 'priority' AS kind, o_orderpriority AS key, count(*) AS cnt
        FROM orders GROUP BY o_orderpriority
        UNION ALL
        SELECT 'returnflag' AS kind, l_returnflag AS key, count(*) AS cnt
        FROM lineitem GROUP BY l_returnflag
    """,
    "q_acctbal_share": """
        SELECT n_name,
               round(sum(c_acctbal), 4) AS nation_bal,
               round(sum(c_acctbal) / (SELECT sum(c_acctbal) FROM customer), 6) AS share
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    "q_nations_intersect": """
        SELECT n_name FROM customer JOIN nation ON c_nationkey = n_nationkey
        INTERSECT
        SELECT n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey
    """,
    "q_nations_except": """
        SELECT DISTINCT n_name FROM (
            SELECT n_name FROM customer JOIN nation ON c_nationkey = n_nationkey
            EXCEPT ALL
            SELECT n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey
        )
    """,
    "q_rollup_qty": """
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               round(sum(l_quantity), 4) AS sum_qty,
               count(*) AS n
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "q_pivot_status": """
        -- count(*) FILTER keeps the result BIGINT; sum(CASE ...) would be
        -- HUGEINT in DuckDB and fail the type-sensitive driver hash.
        SELECT o_orderpriority,
               count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
               count(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending
        FROM orders GROUP BY o_orderpriority
    """,
    "q_having_big_customers": """
        SELECT o_custkey, count(*) AS n_orders,
               round(sum(o_totalprice), 4) AS total_spent
        FROM orders GROUP BY o_custkey HAVING count(*) >= 15
    """,
    "q_distinct_counts": """
        SELECT l_returnflag,
               count(DISTINCT l_partkey) AS n_parts,
               count(DISTINCT l_suppkey) AS n_supps,
               count(DISTINCT l_orderkey) AS n_orders
        FROM lineitem GROUP BY l_returnflag
    """,
    "q_except_all": """
        SELECT l_orderkey, count(*) AS n_surplus
        FROM (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
              EXCEPT ALL
              SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'A')
        GROUP BY l_orderkey
    """,
    "q_intersect_all": """
        SELECT l_orderkey, count(*) AS n_common
        FROM (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
              INTERSECT ALL
              SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'A')
        GROUP BY l_orderkey
    """,
    "q_grouping_sets": """
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               round(sum(l_quantity), 4) AS sum_qty,
               count(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
    "q_rank_distribution": """
        SELECT o_orderkey, o_orderstatus,
               round(percent_rank() OVER w, 6) AS price_pct_rank,
               round(cume_dist() OVER w, 6) AS price_cume_dist
        FROM orders
        WINDOW w AS (PARTITION BY o_orderstatus
                     ORDER BY o_totalprice, o_orderkey)
    """,
    # Exact columns hash-checked; the sketch-accuracy booleans are
    # asserted TRUE (computed Spark-side against the exact values in
    # the same plan — see q_sketch_accuracy docstring).
    "q_sketch_accuracy": """
        SELECT l_returnflag,
               count(DISTINCT l_orderkey) AS n_orders,
               TRUE AS hll_ok,
               round(quantile_cont(l_extendedprice, 0.5), 6) AS p50_price,
               TRUE AS quantile_sketch_ok
        FROM lineitem GROUP BY l_returnflag
    """,
}
