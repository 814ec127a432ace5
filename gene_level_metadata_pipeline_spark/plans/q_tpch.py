"""TPC-H-shaped query corpus: headline Q1/Q3/Q5/Q6, subquery breadth, and the partsupp-free remainders.

Split from the original single-module registry (plans/driver_queries.py,
which remains the facade); importing this module registers its queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gene_level_metadata_pipeline_spark.operators.harmonize import harmonize, spine
from gene_level_metadata_pipeline_spark.plans.registry import (
    ORACLE,
    QUERIES,
    _COS,
    _davg,
    _dsum,
    _events,
    _register,
    _round_to,
    _t,
)

# ---------------------------------------------------------------------------
# TPC-H-shaped headline queries (bench + oracle breadth)
# ---------------------------------------------------------------------------

@_register(
    "tpch_q1_pricing",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_base_price,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_disc_price,
           round(avg(l_quantity), 3) AS avg_qty,
           round(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_tpch_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: the bench workhorse for scan + hash
    aggregate (partial agg map-side, 6 aggregates, 2 group keys)."""
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("2001-09-01").cast("timestamp")
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        _dsum(F.col("l_extendedprice"), 2).alias("sum_base_price"),
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias("sum_disc_price"),
        _round_to(F.avg("l_quantity"), 3).alias("avg_qty"),
        _davg(F.col("l_discount"), 4).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@_register(
    "tpch_q3_topk",
    oracle="""
    SELECT o.o_orderkey,
           CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-06-30'
      AND l.l_shipdate > TIMESTAMP '1998-06-30'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o.o_orderkey
    LIMIT 10
    """,
)
def q_tpch_q3_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped top-k: dimension filter → 3-way join → agg → global
    top-10. The customer side is broadcast; ties broken on o_orderkey so
    both engines return the identical row set."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-06-30").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-06-30").cast("timestamp")
    )
    joined = (
        F.broadcast(c.select("c_custkey"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
    )
    agg = joined.groupBy("o_orderkey", "o_orderdate").agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias("revenue")
    )
    return (
        agg.select(
            "o_orderkey", "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@_register(
    "tpch_q5_region",
    oracle="""
    SELECT n.n_name,
           CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'EUROPE'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1999-01-01'
    GROUP BY n.n_name
    """,
)
def q_tpch_q5_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 6-way join: local-supplier revenue per nation within
    a region. Dimensions (nation, region, supplier) broadcast; the
    fact-fact orders⋈lineitem shuffle is the only exchange that scales
    with data size."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    joined = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return joined.groupBy("n_name").agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias("revenue")
    )


@_register(
    "tpch_q6_forecast",
    oracle="""
    SELECT CAST(round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q_tpch_q6_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped filter+agg: the predicate-pushdown showcase (all
    four predicates reach the parquet scan)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.03) & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(_dsum(F.col("l_extendedprice") * F.col("l_discount"), 2).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# TPC-H-shaped subquery/aggregation breadth (Q4/Q13/Q14/Q18/Q19 analogs)
# ---------------------------------------------------------------------------

@_register(
    "tpch_q4_exists",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1997-07-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o_orderpriority
    """,
)
def q_tpch_q4_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS correlated subquery = left-semi join on the
    composite condition, then priority counts."""
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    sem = o.join(
        li,
        (li.l_orderkey == o.o_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return sem.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@_register(
    "tpch_q13_distribution",
    oracle="""
    WITH per_cust AS (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '5-LOW'
      GROUP BY c.c_custkey
    )
    SELECT c_count, count(*) AS custdist
    FROM per_cust GROUP BY c_count
    """,
)
def q_tpch_q13_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: left join with an extra join predicate + two-level
    aggregation (orders-per-customer distribution). count(col) counts only
    matched rows — NULL-skipping semantics must survive the outer join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderpriority") != "5-LOW")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@_register(
    "tpch_q14_conditional",
    oracle="""
    SELECT round(
      100.0 * CAST(sum(CASE WHEN p_type = 'ECONOMY'
                    THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
                    ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
      / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE),
    4) AS economy_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1997-02-01'
    """,
)
def q_tpch_q14_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation (promo-revenue share) with
    a broadcast dimension join; exact decimal sums keep the ratio
    engine-identical."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-02-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    economy = F.when(F.col("p_type") == "ECONOMY", rev).otherwise(
        F.lit(0).cast("decimal(18,6)")
    )
    return j.agg(
        _round_to(
            100.0 * F.sum(economy).cast("double") / F.sum(rev).cast("double"), 4
        ).alias("economy_pct")
    )


@_register(
    "tpch_q18_having",
    oracle="""
    SELECT o.o_orderkey, round(sum(l.l_quantity), 2) AS total_qty
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderkey
    HAVING sum(l.l_quantity) > 150
    """,
)
def q_tpch_q18_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING = filter-after-aggregate (large-volume
    orders). The reference expresses having as count-then-filter (§2.7
    note); same thing here at fact scale."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    g = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(o.o_orderkey)
        .agg(
            F.sum("l_quantity").alias("__q"),
            _dsum(F.col("l_quantity"), 2).alias("total_qty"),
        )
    )
    return g.where(F.col("__q") > 150).select("o_orderkey", "total_qty")


@_register(
    "tpch_q19_or_pushdown",
    oracle="""
    SELECT round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2)::DOUBLE AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 40)
       OR (p_type = 'STANDARD' AND l_quantity >= 30)
    """,
)
def q_tpch_q19_or_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive predicates spanning both
    join sides — the OR-pushdown stress (Catalyst distributes the
    single-side conjuncts to the scans)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), p.p_partkey == li.l_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30)
           & F.col("l_quantity").between(10, 40))
        | ((F.col("p_type") == "STANDARD") & (F.col("l_quantity") >= 30))
    )
    return j.where(cond).agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias("revenue")
    )


@_register(
    "tpch_q17_scalar_correlated",
    oracle="""
    WITH per_part AS (
      SELECT l_partkey, avg(l_quantity) AS avg_qty FROM lineitem GROUP BY l_partkey
    )
    SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0, 2)
           AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN per_part USING (l_partkey)
    WHERE p_brand = 'Brand#1' AND l_quantity < 0.2 * avg_qty
    """,
)
def q_tpch_q17_scalar_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (per-part average
    quantity) decorrelated into a grouped aggregate + re-join — exactly
    what Catalyst's RewriteCorrelatedScalarSubquery does; writing the
    decorrelated form directly keeps the plan explicit. The per-part
    averages are exact (integral quantities sum exactly in doubles), so no
    rounding is needed before the comparison."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#1").select("p_partkey")
    pruned = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    per_part = pruned.groupBy("l_partkey").agg(F.avg("l_quantity").alias("avg_qty"))
    return (
        pruned.join(per_part, "l_partkey")
        .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            _round_to(
                F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast("double")
                / 7.0,
                2,
            ).alias("avg_yearly")
        )
    )


@_register(
    "tpch_q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2)::DOUBLE
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1998-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def q_tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: aggregate view + uncorrelated scalar subquery
    (global max) consumed as a filter. The scalar lands as a broadcast of
    a 1-row DataFrame — no second pass over the fact table. Comparing the
    *rounded* revenues keeps the max-equality engine-independent."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    rev = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias(
                "total_revenue"
            )
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    return (
        s.join(rev, s.s_suppkey == rev.supplier_no)
        .join(F.broadcast(mx), F.col("total_revenue") == F.col("__mx"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@_register(
    "tpch_q21_waiting_supplier",
    oracle="""
    SELECT s_name, count(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s_name
    """,
)
def q_tpch_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted to this schema's columns: l_returnflag='R'
    plays the late-delivery role): correlated EXISTS → left-semi join with
    a non-equi conjunct, correlated NOT EXISTS → left-anti join with a
    non-equi conjunct, both on the order key, then a count aggregate.
    The semi/anti probe sides shuffle on l_orderkey — one exchange reused
    by both joins."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    l1 = li.where(F.col("l_returnflag") == "R").alias("l1")
    l2 = li.alias("l2")
    l3 = li.where(F.col("l_returnflag") == "R").alias("l3")
    base = (
        l1.join(
            l2,
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
            "left_anti",
        )
        .join(o, F.col("l1.l_orderkey") == o.o_orderkey)
        .join(F.broadcast(s), F.col("l1.l_suppkey") == s.s_suppkey)
    )
    return base.groupBy("s_name").agg(F.count(F.lit(1)).alias("numwait"))


@_register(
    "tpch_q22_idle_customers",
    oracle="""
    WITH avg_bal AS (
      SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS ab
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT CAST(c_nationkey AS BIGINT) AS nation,
           count(*) AS numcust,
           round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2)::DOUBLE AS totacctbal
    FROM customer, avg_bal
    WHERE c_acctbal > ab
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY c_nationkey
    """,
)
def q_tpch_q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: uncorrelated scalar subquery (average positive
    balance, exact-decimal so both engines derive the identical double)
    gating a NOT EXISTS anti join against the fact table, then a per-nation
    aggregate. The scalar is a broadcast 1-row cross join; the anti join
    shuffles on custkey. (This synthetic data gives every customer orders,
    so the anti-join predicate is 'no URGENT order' to keep the result
    non-trivial.)"""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    ab = (
        c.where(F.col("c_acctbal") > 0.0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("ab")
        )
    )
    return (
        c.crossJoin(F.broadcast(ab))
        .where(F.col("c_acctbal") > F.col("ab"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").cast("long").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _dsum(F.col("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@_register(
    "window_rank_suite",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           CAST(row_number() OVER w AS BIGINT) AS rn,
           CAST(rank() OVER wd AS BIGINT) AS rnk,
           CAST(dense_rank() OVER wd AS BIGINT) AS drnk,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           lag(o_totalprice, 1) OVER w AS prev_price,
           lead(o_totalprice, 1) OVER w AS next_price,
           round(cume_dist() OVER w, 6) AS cd,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) OVER m AS DOUBLE)
                 / (count(*) OVER m), 2) AS mov_avg3
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey),
           wd AS (PARTITION BY o_orderpriority ORDER BY o_orderdate),
           m AS (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
)
def q_window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function breadth in one plan: row_number / rank / dense_rank
    (tied ordering), ntile, lag/lead, cume_dist, and a 3-row moving average
    (frame clause) — one shuffle on the partition key serves every window
    because all specs share PARTITION BY o_orderpriority. Moving average
    uses the exact-decimal running sum so partial-agg order can't perturb
    the last ulp (see _dsum)."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_orderdate", "o_orderkey")
    wd = Window.partitionBy("o_orderpriority").orderBy("o_orderdate")
    m = w.rowsBetween(-2, 0)
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        F.row_number().over(w).cast("long").alias("rn"),
        F.rank().over(wd).cast("long").alias("rnk"),
        F.dense_rank().over(wd).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.lag("o_totalprice", 1).over(w).alias("prev_price"),
        F.lead("o_totalprice", 1).over(w).alias("next_price"),
        _round_to(F.cume_dist().over(w), 6).alias("cd"),
        _round_to(
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).over(m).cast("double")
            / F.count(F.lit(1)).over(m),
            2,
        ).alias("mov_avg3"),
    )


@_register(
    "applyinpandas_normalize",
    oracle="""
    SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
           c_acctbal,
           round(CASE WHEN max(c_acctbal) OVER w = min(c_acctbal) OVER w THEN 0.0
                ELSE (c_acctbal - min(c_acctbal) OVER w)
                     / (max(c_acctbal) OVER w - min(c_acctbal) OVER w) END, 6) AS norm
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey)
    """,
)
def q_applyinpandas_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas (per-nation min-max normalization of
    account balances) — the Arrow-batched Pandas-UDF path, certified
    against a pure-SQL window oracle (min/max are summation-free, so the
    two computations agree exactly)."""
    from gene_level_metadata_pipeline_spark.operators.multimodal import (
        normalize_per_group,
    )

    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("long").alias("c_nationkey"), "c_acctbal"
    )
    out = normalize_per_group(c, "c_nationkey", "c_acctbal", out_col="norm")
    return out.withColumn("norm", F.round("norm", 6))


@_register(
    "sql_api_catalog",
    oracle="""
    SELECT n.n_name, count(*) AS n_cust, round(sum(CAST(c.c_acctbal AS DECIMAL(18,6))), 2)::DOUBLE AS total_bal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q_sql_api_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front-end surface: tables registered through the engine
    Catalog (the explicit replacement for the reference's R global env,
    SURVEY §1.1) and queried with spark.sql — DataFrame and SQL APIs share
    one namespace."""
    from gene_level_metadata_pipeline_spark.plans.catalog import Catalog

    cat = Catalog(spark)
    cat.put("customer_v", _t(spark, sf_dir, "customer"))
    cat.put("nation_v", _t(spark, sf_dir, "nation"))
    return spark.sql("""
        SELECT n.n_name, count(*) AS n_cust,
               CAST(round(sum(CAST(c.c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_bal
        FROM customer_v c JOIN nation_v n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    """)


@_register(
    "recursive_hierarchy",
    oracle="""
    WITH RECURSIVE anc(suppkey, node) AS (
      SELECT s_suppkey, s_suppkey FROM supplier
      UNION ALL
      SELECT suppkey, CAST(FLOOR(node / 2) AS BIGINT) FROM anc WHERE node > 1
    )
    SELECT suppkey, count(*) AS chain_len, min(node) AS root
    FROM anc GROUP BY suppkey
    """,
)
def q_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native WITH RECURSIVE (Spark 4): walk each supplier's ancestor
    chain in the implicit binary hierarchy parent(k)=floor(k/2) down to
    the root. Iterative-fixpoint queries the engine previously expressed
    as driver-side loops (connected_components, pagerank) get a SQL
    front-end form; DuckDB runs the IDENTICAL text. Recursion depth is
    log2(max suppkey) — far under Spark's 100-level default limit; each
    level is one self-join the optimizer plans like any other."""
    from gene_level_metadata_pipeline_spark.plans.catalog import Catalog

    cat = Catalog(spark)
    cat.put("supplier_rh", _t(spark, sf_dir, "supplier"))
    return spark.sql("""
        WITH RECURSIVE anc(suppkey, node) AS (
          SELECT s_suppkey, s_suppkey FROM supplier_rh
          UNION ALL
          SELECT suppkey, CAST(FLOOR(node / 2) AS BIGINT) FROM anc WHERE node > 1
        )
        SELECT suppkey, count(*) AS chain_len, min(node) AS root
        FROM anc GROUP BY suppkey
    """)


@_register(
    "upsert_merge",
    oracle="""
    WITH updates AS (
      SELECT c_custkey, c_name, 'UPDATED' AS c_mktsegment
      FROM customer WHERE c_custkey % 10 = 0
    ),
    kept AS (
      SELECT c_custkey, c_name, c_mktsegment FROM customer
      WHERE c_custkey NOT IN (SELECT c_custkey FROM updates)
    )
    SELECT * FROM kept UNION ALL SELECT * FROM updates
    """,
)
def q_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-style upsert emulation (updates replace same-key rows, both
    sides' unmatched rows survive) — the incremental bronze refresh the
    reference lacks (it re-fetches whole sources per release)."""
    from gene_level_metadata_pipeline_spark.operators.harmonize import upsert

    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    updates = (
        c.where(F.col("c_custkey") % 10 == 0)
        .withColumn("c_mktsegment", F.lit("UPDATED"))
    )
    return upsert(c, updates, "c_custkey")


@_register(
    "streaming_dedup",
    oracle="SELECT DISTINCT user_id FROM events",
)
def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact deduplication: dropDuplicates on an unbounded
    stream (state = seen keys; pair with a watermark via
    dropDuplicatesWithinWatermark when keys can expire). Output projected
    to the key set so the result is order-independent and oracle-exact."""
    import uuid as _uuid

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    dedup = src.select("user_id").dropDuplicates(["user_id"])
    name = f"stream_dedup_{_uuid.uuid4().hex[:8]}"
    q = (
        dedup.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(name)
    rows = out.collect()
    spark.catalog.dropTempView(name)
    return spark.createDataFrame(rows, out.schema)


@_register(
    "streaming_dedup_watermark",
    oracle="""
    SELECT * FROM (VALUES
      ('e1', 'k1'), ('e2', 'k2'), ('e3', 'k9'), ('e4', 'k8'), ('e5', 'k1')
    ) AS t(event_id, k)
    """,
)
def q_streaming_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark over a deterministic multi-batch
    stream: the bounded-state exact-dedup contract. The VALUES oracle
    pins both observables — a near-duplicate inside the watermark delay
    is suppressed (e2dup never appears), and a key re-sent after its
    state expired emits a second time (k1 appears as BOTH e1 and e5).
    Plain streaming dropDuplicates (streaming_dedup) can never emit that
    fifth row; its state also never shrinks."""
    from gene_level_metadata_pipeline_spark.streaming.windows import (
        stream_dedup_within_watermark_demo,
    )

    return stream_dedup_within_watermark_demo(spark)


# ---------------------------------------------------------------------------
# TPC-H breadth, continued: every remaining query shape expressible on the
# driver schema (no partsupp table → q2/q9/q11/q16/q20 are out of scope;
# q12's l_shipmode/commitdate columns are absent → certified via an
# equivalent-shaped late-shipment variant).
# ---------------------------------------------------------------------------


def _utc(spark: SparkSession) -> None:
    """Pin the session timezone for queries that EXTRACT date parts.

    Parquet timestamps are naive; DuckDB extracts parts from the stored
    value directly, Spark through the session timezone. Only UTC makes
    year()/date_trunc() agree between the engines (same reasoning as
    _events; dynamic conf, safe to set per-query on the driver's session).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")


@_register(
    "tpch_q7_volume",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
    """,
)
def q_tpch_q7_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral shipping volume between two nations by
    year. Both nation dims broadcast; the only scaling shuffle is the
    lineitem⋈orders fact-fact join (customer/supplier broadcast at driver
    SF, AQE picks the strategy at real scale)."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    j = (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return j.groupBy(
        "supp_nation", "cust_nation",
        F.year("l_shipdate").cast("long").alias("l_year"),
    ).agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias("revenue")
    )


@_register(
    "tpch_q8_market_share",
    oracle="""
    SELECT o_year,
           round(CAST(sum(CASE WHEN supp_nation = 'NATION_12'
                         THEN volume ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
                 / CAST(sum(volume) AS DOUBLE), 4) AS mkt_share
    FROM (
      SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
             CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6)) AS volume,
             n1.n_name AS supp_nation
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      JOIN region r ON n2.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate < TIMESTAMP '1998-01-01'
    ) all_nations
    GROUP BY o_year
    """,
)
def q_tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: national market share inside a region — an 8-way
    join where every dimension (part, supplier, nation×2, region)
    broadcasts and only lineitem⋈orders shuffles, then a conditional
    aggregation ratio per year (exact decimal sums on both sides of the
    divide)."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_region")
    )
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    j = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(r), F.col("n2_region") == F.col("r_regionkey"))
    )
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    national = F.when(F.col("supp_nation") == "NATION_12", vol).otherwise(
        F.lit(0).cast("decimal(18,6)")
    )
    return (
        j.select(F.year("o_orderdate").cast("long").alias("o_year"),
                 vol.alias("volume"), national.alias("national"))
        .groupBy("o_year")
        .agg(
            _round_to(
                F.sum("national").cast("double") / F.sum("volume").cast("double"), 4
            ).alias("mkt_share")
        )
    )


@_register(
    "tpch_q10_returned",
    oracle="""
    SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
           CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-10-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q_tpch_q10_returned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by returned-item revenue in a
    quarter. Group-by on the full customer identity, deterministic top-k
    (revenue desc, custkey tiebreak → TakeOrderedAndProject, no global
    sort)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    j = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return (
        j.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@_register(
    "tpch_q12_late_priority",
    oracle="""
    SELECT l.l_linestatus,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= o.o_orderdate + INTERVAL 90 DAY
      AND l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l.l_linestatus
    """,
)
def q_tpch_q12_late_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (driver schema has no l_shipmode/commitdate →
    late-shipment variant): fact-fact join with a non-equi date-arithmetic
    predicate, then a two-way conditional count by line status."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    j = o.join(li, F.col("l_orderkey") == F.col("o_orderkey")).where(
        F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return j.groupBy("l_linestatus").agg(
        F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
        F.sum(F.when(is_high, 0).otherwise(1)).alias("low_line_count"),
    )


# ---------------------------------------------------------------------------
# Remaining TPC-H shapes (Q2/Q9/Q11/Q16/Q20). The test star schema has no
# partsupp table, so the part<->supplier relation is derived from lineitem
# and "supply cost" from l_extendedprice / l_quantity — the query SHAPES
# (correlated-min join-back, profit decomposition, global-total scalar
# subquery, distinct-count with NOT-IN, correlated-threshold semi-join)
# are preserved exactly.
# ---------------------------------------------------------------------------

@_register(
    "tpch_q2_min_cost",
    oracle="""
    WITH ps AS (
      SELECT l_partkey AS partkey, l_suppkey AS suppkey,
             min(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    eu AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier s
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE'
    ),
    ranked AS (
      SELECT p.p_partkey, p.p_name, eu.s_name, eu.n_name, eu.s_acctbal,
             ps.unit_cost,
             row_number() OVER (
               PARTITION BY p.p_partkey
               ORDER BY ps.unit_cost, eu.s_suppkey
             ) AS rn
      FROM part p
      JOIN ps ON ps.partkey = p.p_partkey
      JOIN eu ON eu.s_suppkey = ps.suppkey
      WHERE p.p_size <= 5 AND p.p_type = 'STANDARD'
    )
    SELECT p_partkey, p_name, s_name, n_name, s_acctbal,
           round(unit_cost * 100.0, 0) / 100.0 AS unit_cost
    FROM ranked WHERE rn = 1
    """,
)
def q_tpch_q2_min_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped minimum-cost supplier: for each qualifying part,
    the EUROPE supplier with the lowest observed unit cost (correlated
    MIN + join-back, expressed as one window rank — a single l_partkey
    shuffle instead of the textbook aggregate-then-self-join). unit_cost
    is a per-row IEEE division minimized exactly (no summation), so both
    engines rank identical doubles; ties broken on s_suppkey."""
    from pyspark.sql import Window

    ps = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_partkey").alias("partkey"),
            F.col("l_suppkey").alias("suppkey"),
        )
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    )
    eu = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(_t(spark, sf_dir, "nation")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(_t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_size") <= 5) & (F.col("p_type") == "STANDARD")
    )
    w = Window.partitionBy("p_partkey").orderBy("unit_cost", "s_suppkey")
    return (
        ps.join(F.broadcast(p), F.col("partkey") == F.col("p_partkey"))
        .join(F.broadcast(eu), F.col("suppkey") == F.col("s_suppkey"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "p_partkey", "p_name", "s_name", "n_name", "s_acctbal",
            _round_to(F.col("unit_cost"), 2).alias("unit_cost"),
        )
    )


@_register(
    "tpch_q9_profit",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS o_year,
           CAST(round(sum(CAST(
             l.l_extendedprice * (1 - l.l_discount)
             - 0.6 * p.p_retailprice * l.l_quantity AS DECIMAL(18,6))), 2)
             AS DOUBLE) AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY nation, o_year
    """,
)
def q_tpch_q9_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped product-type profit: revenue minus modeled supply
    cost (0.6 * retail price * quantity — partsupp.ps_supplycost has no
    table here), per supplier nation per ship year. part and
    supplier⋈nation are broadcast so the only scan-proportional exchange
    is the final (nation, year) aggregate; the LIKE filter prunes part
    BEFORE the join."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_name").contains("red"))
    sn = _t(spark, sf_dir, "supplier").join(
        F.broadcast(_t(spark, sf_dir, "nation")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "n_name")
    profit_expr = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.6 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(sn), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("long").alias("o_year"),
        )
        .agg(_dsum(profit_expr, 2).alias("profit"))
    )


@_register(
    "tpch_q11_important_parts",
    oracle="""
    WITH v AS (
      SELECT l.l_partkey AS partkey,
             sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                 AS DECIMAL(18,6))) AS val
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name IN ('NATION_3', 'NATION_7')
      GROUP BY l.l_partkey
    )
    SELECT partkey, CAST(round(val, 2) AS DOUBLE) AS val
    FROM v
    WHERE CAST(val AS DOUBLE) >
          (SELECT CAST(sum(val) AS DOUBLE) * 0.001 FROM v)
    """,
)
def q_tpch_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped important stock: per-part value held by two
    nations' suppliers, kept only when above a fraction of the GLOBAL
    total (scalar subquery over the same aggregate). Spark recomputes a
    branched scalar subquery — measured: both the DataFrame cross-join
    form and the SQL form scan lineitem TWICE with zero exchange reuse —
    so the total is attached with a global window over the AGGREGATED
    rows instead: one fact scan, and the single-task window touches only
    dimension-grain data (bounded by |part|; for extreme dimensions swap
    in operators.selection.running_sum's two-phase machinery). Decimal
    sums make the threshold comparison order-independent."""
    sn = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "nation").where(
                    F.col("n_name").isin("NATION_3", "NATION_7")
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    v = (
        _t(spark, sf_dir, "lineitem")
        .join(F.broadcast(sn), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .cast("decimal(18,6)")
            ).alias("val")
        )
    )
    from pyspark.sql import Window

    threshold = F.sum("val").over(Window.partitionBy()).cast("double") * F.lit(0.001)
    return (
        v.withColumn("threshold", threshold)
        .where(F.col("val").cast("double") > F.col("threshold"))
        .select("partkey", F.round("val", 2).cast("double").alias("val"))
    )


@_register(
    "tpch_q16_supplier_cnt",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#9'
      AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND l.l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q_tpch_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped supplier diversity: distinct suppliers per part
    (brand, type, size) bucket, excluding flagged suppliers (negative
    balance, standing in for the 'customer complaints' NOT IN). The
    exclusion list is a broadcast anti-join; part is broadcast after its
    IN-list size filter; the exact distinct count expands map-side."""
    bad = _t(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select("s_suppkey")
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#9")
        & (F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
    )
    return (
        _t(spark, sf_dir, "lineitem")
        .join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@_register(
    "tpch_q20_excess_suppliers",
    oracle="""
    WITH shipped AS (
      SELECT l_suppkey, l_partkey,
             sum(CAST(l_quantity AS DECIMAL(18,6))) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY l_suppkey, l_partkey
    )
    SELECT s.s_suppkey, s.s_name, s.s_acctbal
    FROM supplier s
    WHERE s.s_suppkey IN (
      SELECT sh.l_suppkey
      FROM shipped sh
      JOIN part p ON p.p_partkey = sh.l_partkey
      WHERE p.p_name LIKE '%red%' AND CAST(sh.qty AS DOUBLE) > 60.0
    )
    """,
)
def q_tpch_q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped excess-inventory suppliers: suppliers who shipped
    more than a threshold quantity of any qualifying part in 1997
    (correlated per-(supplier, part) aggregate gating a semi-join).
    Decimal quantity sums keep the >60 threshold order-independent; the
    supplier table is probed with LEFT SEMI so each supplier appears
    once regardless of how many parts qualify."""
    shipped = (
        _t(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("qty"))
    )
    p = _t(spark, sf_dir, "part").where(F.col("p_name").contains("red"))
    qualifying = (
        shipped.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .where(F.col("qty").cast("double") > 60.0)
        .select("l_suppkey")
        .distinct()  # bounded by |supplier| after dedup -> broadcastable at any sf
    )
    return (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(qualifying),
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_semi",
        )
        .select("s_suppkey", "s_name", "s_acctbal")
    )


@_register(
    "inverted_index",
    oracle="""
    WITH t AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents
    )
    SELECT word,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
           list_sort(list(DISTINCT doc_id)) AS postings
    FROM t WHERE word <> ''
    GROUP BY word
    HAVING count(DISTINCT doc_id) >= 5
    """,
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index construction — term → sorted posting list of doc
    ids, the retrieval-side dual of encode_documents. One explode + one
    word-keyed hash aggregate; document frequency falls out as the
    posting-array length (no second count pass). At 100 TB the posting
    lists for stopword-grade terms are the skew risk: shard hot terms by
    (word, doc_id bucket) and concatenate per-shard arrays on read, or
    drop terms above a df ceiling — the df floor here (>= 5) is the same
    gate in miniature."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("postings"))
        .withColumn("df", F.size("postings").cast("long"))
        .where(F.col("df") >= 5)
        .select("word", "df", "postings")
    )




@_register(
    "cdc_apply_orders",
    oracle="""
    WITH ch AS (
      SELECT o_orderkey, 1 AS version, 'upsert' AS op, 'U1' AS status
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey, 2, 'delete', NULL
      FROM orders WHERE o_orderkey % 21 = 0
      UNION ALL
      SELECT o_orderkey, 2, 'upsert', 'U2'
      FROM orders WHERE o_orderkey % 14 = 0 AND o_orderkey % 21 <> 0
    ),
    win AS (
      SELECT o_orderkey, status, op FROM (
        SELECT *, row_number() OVER (
          PARTITION BY o_orderkey ORDER BY version DESC, op DESC) AS rn
        FROM ch
      ) WHERE rn = 1
    ),
    kept AS (
      SELECT o_orderkey, o_orderstatus AS status FROM orders
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM win)
    )
    SELECT o_orderkey, status FROM kept
    UNION ALL
    SELECT o_orderkey, status FROM win WHERE op <> 'delete'
    """,
)
def q_cdc_apply_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change-feed apply with tombstones (harmonize.cdc_apply): a
    multi-version feed — every 7th key upserted at v1, every 21st key
    tombstoned at v2 (net delete), every other 14th key re-upserted at
    v2 (net latest-wins) — applied onto the orders snapshot. The
    MERGE-with-deletes that plain upsert_merge lacks: per-key winner is
    ONE max_by aggregation over the (version, op) total order (no
    window sort), then one full-outer join with the snapshot and a
    projection. Deletes must REMOVE rows and
    stale v1 updates must lose to v2 — both outcomes the oracle's
    row_number replay certifies exactly."""
    from gene_level_metadata_pipeline_spark.operators.harmonize import (
        cdc_apply,
    )

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderstatus").alias("status")
    )
    k = F.col("o_orderkey")
    ch1 = o.where(k % 7 == 0).select(
        "o_orderkey",
        F.lit("U1").alias("status"),
        F.lit(1).alias("version"),
        F.lit("upsert").alias("op"),
    )
    ch2 = o.where(k % 21 == 0).select(
        "o_orderkey",
        F.lit(None).cast("string").alias("status"),
        F.lit(2).alias("version"),
        F.lit("delete").alias("op"),
    )
    ch3 = o.where((k % 14 == 0) & (k % 21 != 0)).select(
        "o_orderkey",
        F.lit("U2").alias("status"),
        F.lit(2).alias("version"),
        F.lit("upsert").alias("op"),
    )
    changes = ch1.unionByName(ch2).unionByName(ch3)
    return cdc_apply(o, changes, "o_orderkey")
