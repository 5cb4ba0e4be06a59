"""Relational operator suite, part 3: TPC-H-shaped predicate and join
workloads (Q2/Q4/Q6/Q12/Q14/Q16/Q19/Q22 analogues adapted to the testdata
schema). The value here is breadth of *predicate* shapes — BETWEEN,
IN-lists, OR-of-ANDs, NOT IN, correlated EXISTS-counting, conditional
ratios — each pushed down or decorrelated by Catalyst, each with an exact
DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from columnar_estimator_sample_spark.functions.exact import dsum, sql_dsum
from columnar_estimator_sample_spark.registry import register
from columnar_estimator_sample_spark.sources.tables import epoch_us, table


@register(
    "q06_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE)
               AS revenue_delta,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.04 AND 0.08
      AND l_quantity < 24
    """,
)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: tight multi-predicate scan + single aggregate.
    All four predicates push to the parquet scan (range + BETWEEN);
    the classic column-store micro-benchmark."""
    li = table(spark, sf_dir, "lineitem")
    price_d = F.col("l_extendedprice").cast("decimal(12,2)")
    disc_d = F.col("l_discount").cast("decimal(4,2)")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00")
             .cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00")
               .cast("timestamp_ntz"))
            & (F.col("l_discount").between(0.04, 0.08))
            & (F.col("l_quantity") < 24))
        .agg(F.sum(price_d * disc_d).cast("double").alias("revenue_delta"),
             F.count(F.lit(1)).alias("n_items"))
    )


@register(
    "q04_order_priority_check",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q04_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS (late lineitems) counted per
    priority — a semi-join with a non-equi correlated predicate."""
    orders = (table(spark, sf_dir, "orders")
              .filter((F.col("o_orderdate") >=
                       F.lit("1997-07-01 00:00:00").cast("timestamp_ntz"))
                      & (F.col("o_orderdate") <
                         F.lit("1997-10-01 00:00:00").cast("timestamp_ntz"))))
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li, (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate), "left_semi")
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q12_shipmode_priority",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
)
def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: join + IN-list conditional counting."""
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority")
    li = (table(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >=
                   F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
                  & (F.col("l_shipdate") <
                     F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")))
          .select("l_orderkey", "l_linestatus"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
             F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"))
        .orderBy("l_linestatus")
    )


@register(
    "q14_promo_revenue_ratio",
    oracle="""
    SELECT CAST(100.0 * SUM(CASE WHEN p_type LIKE 'PROMO%'
                   THEN CAST(l_extendedprice AS DECIMAL(12,2))
                        * (CAST(1 AS DECIMAL(3,2))
                           - CAST(l_discount AS DECIMAL(4,2)))
                   ELSE CAST(0 AS DECIMAL(21,6)) END) AS DOUBLE)
           / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (CAST(1 AS DECIMAL(3,2))
                         - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
               AS promo_pct,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-06-01 00:00:00'
    """,
)
def q14_promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-revenue ratio with a LIKE-prefix
    predicate on a broadcast dimension."""
    li = (table(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >=
                   F.lit("1997-03-01 00:00:00").cast("timestamp_ntz"))
                  & (F.col("l_shipdate") <
                     F.lit("1997-06-01 00:00:00").cast("timestamp_ntz")))
          .select("l_partkey", "l_extendedprice", "l_discount"))
    part = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    price_d = F.col("l_extendedprice").cast("decimal(12,2)")
    one = F.lit(1).cast("decimal(3,2)")
    disc_d = F.col("l_discount").cast("decimal(4,2)")
    rev = price_d * (one - disc_d)
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(
        F.lit(0).cast("decimal(21,6)"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg((F.lit(100.0) * F.sum(promo).cast("double")
              / F.sum(rev).cast("double")).alias("promo_pct"),
             F.count(F.lit(1)).alias("n_items"))
    )


@register(
    "q16_supplier_part_variety",
    oracle="""
    SELECT p_brand, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_size IN (5, 10, 15, 20, 25)
    GROUP BY p_brand, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_size
    """,
)
def q16_supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-count per group with <> and IN-list
    predicates on the dimension."""
    part = (table(spark, sf_dir, "part")
            .filter((F.col("p_brand") != "Brand#1")
                    & F.col("p_size").isin(5, 10, 15, 20, 25))
            .select("p_partkey", "p_brand", "p_size"))
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_size")
    )


@register(
    "q19_disjunctive_predicates",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(3,2))
                       - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
               AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 25
           AND l_quantity BETWEEN 10 AND 40)
       OR (p_brand = 'Brand#4' AND p_size BETWEEN 20 AND 40
           AND l_quantity BETWEEN 20 AND 50)
    """,
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str)\
        -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs across both join sides — the stress
    test for predicate normalization; Catalyst extracts the common
    join key and pushes the per-side conjuncts beneath the join."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand",
                                               "p_size")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 10)
         & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(10, 25)
           & F.col("l_quantity").between(10, 40))
        | ((F.col("p_brand") == "Brand#4") & F.col("p_size").between(20, 40)
           & F.col("l_quantity").between(20, 50))
    )
    price_d = F.col("l_extendedprice").cast("decimal(12,2)")
    one = F.lit(1).cast("decimal(3,2)")
    disc_d = F.col("l_discount").cast("decimal(4,2)")
    return j.filter(cond).agg(
        F.sum(price_d * (one - disc_d)).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"))


@register(
    "q22_global_sales_opportunity",
    oracle="""
    WITH avg_bal AS (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(27,2))) AS DOUBLE)
               / COUNT(c_acctbal) AS v
        FROM customer WHERE c_acctbal > 0.0
    ), order_cnt AS (
        SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey
    )
    SELECT c.c_nationkey,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(27,2))) AS DOUBLE)
               AS totacctbal
    FROM customer c, avg_bal
    WHERE c.c_acctbal > avg_bal.v
      AND COALESCE((SELECT n FROM order_cnt oc
                    WHERE oc.o_custkey = c.c_custkey), 0) < 8
    GROUP BY c.c_nationkey
    ORDER BY c.c_nationkey
    """,
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str)\
        -> DataFrame:
    """TPC-H Q22 shape: scalar subquery (global exact average) + low-
    activity filter (correlated count, decorrelated to an outer-join
    aggregate), aggregated per nation."""
    cust = table(spark, sf_dir, "customer")
    avg_bal = (cust.filter(F.col("c_acctbal") > 0.0)
               .agg((F.sum(F.col("c_acctbal").cast("decimal(27,2)"))
                     .cast("double") / F.count("c_acctbal")).alias("v")))
    order_cnt = (table(spark, sf_dir, "orders")
                 .groupBy(F.col("o_custkey").alias("k"))
                 .agg(F.count(F.lit(1)).alias("n")))
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("v"))
        .join(order_cnt, cust.c_custkey == order_cnt.k, "left")
        .filter(F.coalesce(F.col("n"), F.lit(0)) < 8)
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("numcust"),
             F.sum(F.col("c_acctbal").cast("decimal(27,2)"))
             .cast("double").alias("totacctbal"))
        .orderBy("c_nationkey")
    )


@register(
    "q02_min_cost_supplier",
    oracle="""
    WITH costs AS (
        SELECT l_partkey, l_suppkey,
               MIN(l_extendedprice) AS min_price
        FROM lineitem
        GROUP BY l_partkey, l_suppkey
    ), best AS (
        SELECT l_partkey, MIN(min_price) AS best_price
        FROM costs GROUP BY l_partkey
    )
    SELECT c.l_partkey AS partkey,
           MIN(c.l_suppkey) AS suppkey,
           min_by(s.s_name, c.l_suppkey) AS supplier_name,
           c.min_price AS price
    FROM costs c
    JOIN best b ON c.l_partkey = b.l_partkey
               AND c.min_price = b.best_price
    JOIN supplier s ON c.l_suppkey = s.s_suppkey
    WHERE c.l_partkey < 200
    GROUP BY c.l_partkey, c.min_price
    ORDER BY partkey
    """,
)
def q02_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: min-per-group + join-back (the cheapest supplier
    per part), tie-resolved by min suppkey for determinism.

    ``supplier_name`` is taken with ``min_by(name, suppkey)`` so it is the
    name OF the reported suppkey — independent MIN(name)/MIN(suppkey)
    could disagree when two suppliers tie on best price. ``l_suppkey`` is
    unique within each (partkey, price) group, so min_by is deterministic.
    """
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice")
    costs = (li.groupBy("l_partkey", "l_suppkey")
             .agg(F.min("l_extendedprice").alias("min_price")))
    best = (costs.groupBy(F.col("l_partkey").alias("bk"))
            .agg(F.min("min_price").alias("best_price")))
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        costs.join(best, (costs.l_partkey == best.bk)
                   & (costs.min_price == best.best_price))
        .join(F.broadcast(supp), costs.l_suppkey == supp.s_suppkey)
        .filter(F.col("l_partkey") < 200)
        .groupBy(F.col("l_partkey").alias("partkey"),
                 F.col("min_price").alias("price"))
        .agg(F.min("l_suppkey").alias("suppkey"),
             F.min_by("s_name", "l_suppkey").alias("supplier_name"))
        .select("partkey", "suppkey", "supplier_name", "price")
        .orderBy("partkey")
    )


# ---------------------------------------------------------------------------
# Laspeyres price index between time halves
# ---------------------------------------------------------------------------

_CENT_R3 = "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
_QTY_R3 = "CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT)"


@register(
    "q_price_index",
    oracle=f"""
    WITH li AS (
        SELECT l_partkey, epoch_us(l_shipdate) AS us,
               {_CENT_R3} AS cents, {_QTY_R3} AS qty
        FROM lineitem
    ), rng AS (SELECT MIN(us) AS mn, MAX(us) AS mx FROM li),
    halves AS (
        SELECT l_partkey,
               CASE WHEN us < (mn + mx) // 2 THEN 1 ELSE 2 END AS half,
               cents, qty
        FROM li, rng
    ), per AS (
        SELECT l_partkey, half,
               CAST(SUM(cents * qty) AS HUGEINT) AS value_cq,
               CAST(SUM(qty) AS BIGINT) AS q
        FROM halves GROUP BY 1, 2
    ), paired AS (
        SELECT a.l_partkey,
               a.value_cq // a.q AS p1,   -- qty-weighted avg price, floor
               b.value_cq // b.q AS p2,
               a.q AS q1
        FROM per a JOIN per b
          ON b.l_partkey = a.l_partkey AND a.half = 1 AND b.half = 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST((1000 * CAST(SUM(p2 * q1) AS HUGEINT))
                // CAST(SUM(p1 * q1) AS HUGEINT) AS BIGINT)
               AS laspeyres_permille
    FROM paired
    """)
def q_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres price index: how much the SAME base-period basket would
    cost at current prices — Σ p₂q₁ / Σ p₁q₁ over parts traded in both
    halves of the ship-date range, in exact permille (1000 = flat).
    Per-part prices are quantity-weighted average cents with documented
    floor division; the index itself is one integer cross-ratio on
    128-bit lanes. The econ-grade aggregation (CPI's formula) a pricing
    warehouse publishes.

    Scale: one scan to (part, half) cells, a part-keyed self-join of the
    halves, and a 1-row ratio."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        epoch_us("l_shipdate").alias("us"),
        F.expr(_CENT_R3).alias("cents"), F.expr(_QTY_R3).alias("qty"))
    rng = li.agg(F.min("us").alias("mn"), F.max("us").alias("mx"))
    per = (li.crossJoin(F.broadcast(rng))
           .select("l_partkey", "cents", "qty",
                   F.expr("CASE WHEN us < (mn + mx) div 2 THEN 1 ELSE 2"
                          " END").alias("half"))
           .groupBy("l_partkey", "half")
           .agg(F.sum(F.expr("CAST(cents AS DECIMAL(38,0)) * qty"))
                .cast("decimal(38,0)").alias("value_cq"),
                F.sum("qty").cast("long").alias("q")))
    a = (per.filter(F.col("half") == 1)
         .select("l_partkey",
                 F.expr("CAST(value_cq div q AS BIGINT)").alias("p1"),
                 F.col("q").alias("q1")))
    b = (per.filter(F.col("half") == 2)
         .select("l_partkey",
                 F.expr("CAST(value_cq div q AS BIGINT)").alias("p2")))
    paired = a.join(b, "l_partkey")
    return paired.agg(
        F.count("*").cast("long").alias("n_parts"),
        F.expr("CAST((1000 * SUM(CAST(p2 AS DECIMAL(38,0)) * q1))"
               " div SUM(CAST(p1 AS DECIMAL(38,0)) * q1) AS BIGINT)")
        .alias("laspeyres_permille"))


# ---------------------------------------------------------------------------
# Top revenue movers between halves
# ---------------------------------------------------------------------------

MOVERS_TOP = 15


@register(
    "q_revenue_movers",
    oracle=f"""
    WITH li AS (
        SELECT l_partkey, epoch_us(l_shipdate) AS us, {_CENT_R3} AS cents
        FROM lineitem
    ), rng AS (SELECT MIN(us) AS mn, MAX(us) AS mx FROM li),
    halves AS (
        SELECT l_partkey,
               CASE WHEN us < (mn + mx) // 2 THEN 1 ELSE 2 END AS half,
               cents
        FROM li, rng
    ), rev AS (
        SELECT l_partkey, half, CAST(SUM(cents) AS BIGINT) AS rev
        FROM halves GROUP BY 1, 2
    ), ranked AS (
        SELECT l_partkey, half, rev,
               ROW_NUMBER() OVER (PARTITION BY half
                                  ORDER BY rev DESC, l_partkey) AS rk
        FROM rev
    ), paired AS (
        SELECT a.l_partkey, a.rk AS rank_first, b.rk AS rank_second,
               a.rev AS rev_first, b.rev AS rev_second
        FROM ranked a JOIN ranked b
          ON b.l_partkey = a.l_partkey AND a.half = 1 AND b.half = 2
    )
    SELECT l_partkey, rank_first, rank_second,
           rank_first - rank_second AS rank_gain,
           rev_first, rev_second
    FROM paired
    ORDER BY ABS(rank_first - rank_second) DESC, l_partkey
    LIMIT {MOVERS_TOP}
    """)
def q_revenue_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top revenue movers: parts whose revenue RANK shifted most between
    the two halves of the ship-date range (positive rank_gain = rising)
    — the assortment-trend report merchandising teams read weekly.
    Ranks are total-ordered (revenue desc, partkey), the movement is
    exact integer rank arithmetic, and only parts traded in BOTH halves
    qualify.

    Scale: one scan to (part, half) revenue cells; per-half ranks are
    half-partitioned windows over the parts table (range-rank
    two_phase shape at 100 TB); the movers report is a self-join of the
    two ranked halves on partkey."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        epoch_us("l_shipdate").alias("us"),
        F.expr(_CENT_R3).alias("cents"))
    rng = li.agg(F.min("us").alias("mn"), F.max("us").alias("mx"))
    rev = (li.crossJoin(F.broadcast(rng))
           .select("l_partkey", "cents",
                   F.expr("CASE WHEN us < (mn + mx) div 2 THEN 1 ELSE 2"
                          " END").alias("half"))
           .groupBy("l_partkey", "half")
           .agg(F.sum("cents").cast("long").alias("rev")))
    from pyspark.sql import Window
    wh = Window.partitionBy("half").orderBy(F.desc("rev"), "l_partkey")
    ranked = rev.withColumn("rk", F.row_number().over(wh))
    a = (ranked.filter(F.col("half") == 1)
         .select("l_partkey", F.col("rk").alias("rank_first"),
                 F.col("rev").alias("rev_first")))
    b = (ranked.filter(F.col("half") == 2)
         .select("l_partkey", F.col("rk").alias("rank_second"),
                 F.col("rev").alias("rev_second")))
    return (a.join(b, "l_partkey")
            .select("l_partkey", "rank_first", "rank_second",
                    (F.col("rank_first") - F.col("rank_second"))
                    .alias("rank_gain"),
                    "rev_first", "rev_second")
            .orderBy(F.abs(F.col("rank_gain")).desc(), "l_partkey")
            .limit(MOVERS_TOP))


# ---------------------------------------------------------------------------
# Assortment turnover (new-item velocity)
# ---------------------------------------------------------------------------


@register(
    "q_assortment_turnover",
    oracle=f"""
    WITH li AS (
        SELECT l_partkey, epoch_us(l_shipdate) AS us, {_CENT_R3} AS cents
        FROM lineitem
    ), rng AS (SELECT MIN(us) AS mn, MAX(us) AS mx FROM li),
    tagged AS (
        SELECT l_partkey,
               CASE WHEN us < (mn + mx) // 2 THEN 1 ELSE 2 END AS half,
               cents
        FROM li, rng
    ), first_half AS (
        SELECT l_partkey, MIN(half) AS first_seen FROM tagged GROUP BY 1
    ), rev2 AS (
        SELECT t.l_partkey, f.first_seen,
               CAST(SUM(t.cents) AS BIGINT) AS rev
        FROM tagged t JOIN first_half f USING (l_partkey)
        WHERE t.half = 2
        GROUP BY 1, 2
    ), tot AS (SELECT CAST(SUM(rev) AS BIGINT) AS t FROM rev2)
    SELECT CASE WHEN first_seen = 2 THEN 'new' ELSE 'carryover' END
               AS cohort,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(rev) AS BIGINT) AS revenue_cents,
           (1000 * CAST(SUM(rev) AS BIGINT)) // t.t AS revenue_permille
    FROM rev2 CROSS JOIN tot t
    GROUP BY 1, t.t
    ORDER BY cohort
    """)
def q_assortment_turnover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assortment turnover: how much of second-half revenue comes from
    parts INTRODUCED in the second half ("new") vs parts that already
    traded in the first ("carryover") — the new-item-velocity number
    behind assortment refresh decisions. First appearance is an exact
    MIN over the half tag; shares are integer permille.

    Scale: one scan to (part, half) tags, a part-keyed MIN join, a
    2-row report."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        epoch_us("l_shipdate").alias("us"),
        F.expr(_CENT_R3).alias("cents"))
    rng = li.agg(F.min("us").alias("mn"), F.max("us").alias("mx"))
    tagged = (li.crossJoin(F.broadcast(rng))
              .select("l_partkey", "cents",
                      F.expr("CASE WHEN us < (mn + mx) div 2 THEN 1"
                             " ELSE 2 END").alias("half")))
    first = tagged.groupBy("l_partkey").agg(
        F.min("half").alias("first_seen"))
    rev2 = (tagged.filter(F.col("half") == 2)
            .join(first, "l_partkey")
            .groupBy("l_partkey", "first_seen")
            .agg(F.sum("cents").cast("long").alias("rev")))
    tot = rev2.agg(F.sum("rev").cast("long").alias("t"))
    return (rev2.crossJoin(F.broadcast(tot))
            .groupBy(F.expr("CASE WHEN first_seen = 2 THEN 'new'"
                            " ELSE 'carryover' END").alias("cohort"),
                     F.col("t"))
            .agg(F.count("*").cast("long").alias("n_parts"),
                 F.sum("rev").cast("long").alias("revenue_cents"))
            .withColumn("revenue_permille",
                        F.expr("(1000 * revenue_cents) div t"))
            .drop("t")
            .orderBy("cohort"))
