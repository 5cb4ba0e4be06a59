"""Relational operator suite, part 4: the remaining TPC-H query shapes
(Q7/Q8/Q9/Q11/Q13/Q15/Q17/Q18/Q20/Q21 analogues adapted to the testdata
schema — no partsupp/commitdate columns exist, so those queries keep their
*relational shape* with substituted measures). The value is breadth of
multi-join + correlated-aggregate patterns: nation-pair volume, market
share, profit rollup, group-HAVING-over-global-scalar, distribution
counting, argmax-by-view, correlated-average filters, large-volume
semi-joins, and the double-EXISTS "sole late supplier" shape.

Every query: dimensions broadcast, fact-fact joins shuffle on natural
keys, decimal-exact money math (functions/exact.py), deterministic
ordering with tie-breakers, and a value-exact DuckDB oracle twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from columnar_estimator_sample_spark.functions.exact import dec
from columnar_estimator_sample_spark.operators.events import US_PER_DAY
from columnar_estimator_sample_spark.registry import register
from columnar_estimator_sample_spark.sources.tables import epoch_us, table

_TS = "timestamp_ntz"


def _rev() -> F.Column:
    """Exact revenue term: decimal(extendedprice) * decimal(1 - discount)."""
    return (F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1).cast("decimal(12,2)")
               - F.col("l_discount").cast("decimal(4,2)")))


_SQL_REV = ("CAST(l_extendedprice AS DECIMAL(12,2))"
            " * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(4,2)))")


@register(
    "q07_nation_volume",
    oracle=f"""
    SELECT sn.n_name AS supp_nation,
           cn.n_name AS cust_nation,
           EXTRACT(year FROM l_shipdate) AS l_year,
           CAST(SUM({_SQL_REV}) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation sn ON sn.n_nationkey = s_nationkey
    JOIN nation cn ON cn.n_nationkey = c_nationkey
    WHERE ((sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_7')
        OR (sn.n_name = 'NATION_7' AND cn.n_name = 'NATION_3'))
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1, 2, 3
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q07_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between a nation pair per year —
    two fact-fact joins plus four broadcast dimensions, symmetric
    OR-of-ANDs pair predicate."""
    li = (table(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00")
                   .cast(_TS))
                  & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00")
                     .cast(_TS)))
          .select("l_orderkey", "l_suppkey", "l_shipdate",
                  "l_extendedprice", "l_discount"))
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = table(spark, sf_dir, "nation")
    sn = nat.select(F.col("n_nationkey").alias("sn_key"),
                    F.col("n_name").alias("supp_nation"))
    cn = nat.select(F.col("n_nationkey").alias("cn_key"),
                    F.col("n_name").alias("cust_nation"))
    pair = (((F.col("supp_nation") == "NATION_3")
             & (F.col("cust_nation") == "NATION_7"))
            | ((F.col("supp_nation") == "NATION_7")
               & (F.col("cust_nation") == "NATION_3")))
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "q08_market_share",
    oracle=f"""
    WITH vol AS (
        SELECT EXTRACT(year FROM o_orderdate) AS o_year,
               {_SQL_REV} AS volume,
               sn.n_name AS supp_nation
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation cn ON cn.n_nationkey = c_nationkey
        JOIN region    ON r_regionkey = cn.n_regionkey
        JOIN nation sn ON sn.n_nationkey = s_nationkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    )
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN volume
                         ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
           / CAST(SUM(volume) AS DOUBLE) AS mkt_share
    FROM vol
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q08_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's revenue share within a region per
    year — conditional-sum ratio over a 6-table star join."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = (table(spark, sf_dir, "orders")
              .filter((F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00")
                       .cast(_TS))
                      & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00")
                         .cast(_TS)))
              .select("o_orderkey", "o_custkey", "o_orderdate"))
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = table(spark, sf_dir, "nation")
    region = (table(spark, sf_dir, "region")
              .filter(F.col("r_name") == "ASIA").select("r_regionkey"))
    cn = (nat.join(F.broadcast(region),
                   nat.n_regionkey == F.col("r_regionkey"))
          .select(F.col("n_nationkey").alias("cn_key")))
    sn = nat.select(F.col("n_nationkey").alias("sn_key"),
                    F.col("n_name").alias("supp_nation"))
    vol = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .select(F.year("o_orderdate").alias("o_year"),
                _rev().alias("volume"), "supp_nation")
    )
    zero = F.lit(0).cast("decimal(18,4)")
    return (
        vol.groupBy("o_year")
        .agg((F.sum(F.when(F.col("supp_nation") == "NATION_2",
                           F.col("volume")).otherwise(zero)).cast("double")
              / F.sum("volume").cast("double")).alias("mkt_share"))
        .orderBy("o_year")
    )


@register(
    "q09_product_profit",
    oracle="""
    SELECT sn.n_name AS nation,
           EXTRACT(year FROM l_shipdate) AS o_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(12,2))
                       - CAST(l_discount AS DECIMAL(4,2)))
                    - CAST(p_retailprice AS DECIMAL(12,2))
                      * CAST(l_quantity AS DECIMAL(12,2))
                      * CAST(0.1 AS DECIMAL(4,2))) AS DOUBLE) AS sum_profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation sn ON sn.n_nationkey = s_nationkey
    WHERE p_name LIKE '%gear%'
    GROUP BY 1, 2
    ORDER BY nation, o_year DESC
    """,
)
def q09_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and year for parts
    matching a name pattern (no partsupp table in the testdata schema, so
    supply cost is modeled as 10% of retail price x quantity — the join
    topology and aggregation shape are Q9's)."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_shipdate", "l_quantity",
        "l_extendedprice", "l_discount")
    part = (table(spark, sf_dir, "part")
            .filter(F.col("p_name").like("%gear%"))
            .select("p_partkey", "p_retailprice"))
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    sn = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("nation"))
    cost = (F.col("p_retailprice").cast("decimal(12,2)")
            * F.col("l_quantity").cast("decimal(12,2)")
            * F.lit(0.1).cast("decimal(4,2)"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy("nation", F.year("l_shipdate").alias("o_year"))
        .agg(F.sum(_rev() - cost).cast("double").alias("sum_profit"))
        .orderBy(F.asc("nation"), F.desc("o_year"))
    )


@register(
    "q11_important_stock",
    oracle="""
    WITH vals AS (
        SELECT l_partkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                        * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                   AS part_value
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation   ON n_nationkey = s_nationkey
        WHERE n_name = 'NATION_5'
        GROUP BY l_partkey
    )
    SELECT l_partkey AS partkey, part_value
    FROM vals
    WHERE part_value > (SELECT SUM(part_value) * 0.002 FROM vals)
    ORDER BY part_value DESC, partkey
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-group value filtered against a global scalar
    (fraction of the total) — group-HAVING over a scalar subquery on the
    same aggregate. No partsupp table: value = extendedprice x quantity
    supplied from one nation's suppliers."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = (table(spark, sf_dir, "nation")
           .filter(F.col("n_name") == "NATION_5").select("n_nationkey"))
    val = (F.col("l_extendedprice").cast("decimal(12,2)")
           * F.col("l_quantity").cast("decimal(12,2)"))
    vals = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("l_partkey")
        .agg(F.sum(val).cast("double").alias("part_value"))
    )
    total = vals.agg((F.sum("part_value") * 0.002).alias("threshold"))
    return (
        vals.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") > F.col("threshold"))
        .select(F.col("l_partkey").alias("partkey"), "part_value")
        .orderBy(F.desc("part_value"), F.asc("partkey"))
    )


@register(
    "q13_order_distribution",
    oracle="""
    WITH c_orders AS (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer
        LEFT JOIN orders ON o_custkey = c_custkey
                        AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: two-level aggregation — customers bucketed by how
    many (non-urgent) orders they placed, including zero via the outer
    join (the comment-filter of real Q13 becomes a priority filter)."""
    cust = table(spark, sf_dir, "customer").select("c_custkey")
    orders = (table(spark, sf_dir, "orders")
              .filter(F.col("o_orderpriority") != "1-URGENT")
              .select("o_orderkey", "o_custkey"))
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               CAST(SUM({_SQL_REV}) AS DOUBLE) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: argmax over an aggregated view — supplier(s)
    achieving the maximum quarterly revenue, via a scalar-subquery
    equality (ties all returned, ordered by key)."""
    li = (table(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00")
                   .cast(_TS))
                  & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00")
                     .cast(_TS))))
    revenue = (li.groupBy(F.col("l_suppkey").alias("supplier_no"))
               .agg(F.sum(_rev()).cast("double").alias("total_revenue")))
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(supp),
              F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
    WITH pq AS (
        SELECT l_partkey AS avg_partkey,
               0.5 * (CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)))
                           AS DOUBLE) / COUNT(l_quantity)) AS half_avg_qty
        FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
               / 7.0 AS avg_yearly,
           COUNT(*) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN pq   ON avg_partkey = l_partkey
    WHERE p_brand = 'Brand#12'
      AND l_quantity < half_avg_qty
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str)\
        -> DataFrame:
    """TPC-H Q17 shape: rows below a correlated per-group average (small
    orders of one brand), with the correlated subquery decorrelated into
    an aggregate + join. Decimal-exact sum; the avg is one double
    division per part."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice")
    pq = (li.groupBy(F.col("l_partkey").alias("avg_partkey"))
          .agg((F.lit(0.5) * (F.sum(dec(F.col("l_quantity"), 2))
                              .cast("double") / F.count("l_quantity")))
               .alias("half_avg_qty")))
    part = (table(spark, sf_dir, "part")
            .filter(F.col("p_brand") == "Brand#12").select("p_partkey"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(pq, F.col("l_partkey") == F.col("avg_partkey"))
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg((F.sum(F.col("l_extendedprice").cast("decimal(12,2)"))
              .cast("double") / 7.0).alias("avg_yearly"),
             F.count(F.lit(1)).alias("n_lines"))
    )


@register(
    "q18_large_volume_customers",
    oracle="""
    WITH big AS (
        SELECT l_orderkey
        FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 210
    )
    SELECT c_custkey, c_name, o_orderkey, o_orderdate,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
               AS total_qty
    FROM lineitem
    JOIN big      USING (l_orderkey)
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate
    ORDER BY total_qty DESC, o_orderkey
    LIMIT 100
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str)\
        -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold
    (HAVING over a fact aggregate used as a semi-join), joined back to
    customers, top-100."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum(dec(F.col("l_quantity"), 2)).alias("sq"))
           .filter(F.col("sq") > 210)
           .select(li.l_orderkey.alias("big_key")))
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        li.join(big, li.l_orderkey == F.col("big_key"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate")
        .agg(F.sum(dec(F.col("l_quantity"), 2)).cast("double")
             .alias("total_qty"))
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
        .limit(100)
    )


@register(
    "q20_excess_suppliers",
    oracle="""
    WITH sp AS (
        SELECT l_suppkey, l_partkey,
               SUM(CAST(l_quantity AS DECIMAL(12,2))) AS supplied
        FROM lineitem GROUP BY l_suppkey, l_partkey
    ), pavg AS (
        SELECT l_partkey AS pk, SUM(supplied) * 0.1 AS threshold
        FROM sp GROUP BY l_partkey
    )
    SELECT s_suppkey, s_name
    FROM supplier
    JOIN nation ON n_nationkey = s_nationkey
    WHERE n_name IN ('NATION_1', 'NATION_11', 'NATION_21')
      AND s_suppkey IN (SELECT l_suppkey FROM sp JOIN pavg ON pk = l_partkey
                        WHERE supplied > threshold)
    ORDER BY s_suppkey
    """,
)
def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who carry an outsized share (>10%) of
    some part's total supplied quantity, restricted to a nation list —
    an IN-subquery (semi-join) over a two-level aggregate."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_partkey", "l_quantity")
    sp = (li.groupBy("l_suppkey", "l_partkey")
          .agg(F.sum(dec(F.col("l_quantity"), 2)).alias("supplied")))
    pavg = (sp.groupBy(F.col("l_partkey").alias("pk"))
            .agg((F.sum("supplied") * F.lit(0.1).cast("decimal(12,2)"))
                 .alias("threshold")))
    excess = (sp.join(pavg, sp.l_partkey == pavg.pk)
              .filter(F.col("supplied") > F.col("threshold"))
              .select("l_suppkey"))
    nat = (table(spark, sf_dir, "nation")
           .filter(F.col("n_name").isin("NATION_1", "NATION_11",
                                        "NATION_21"))
           .select("n_nationkey"))
    supp = table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey")
    return (
        supp.join(F.broadcast(nat),
                  supp.s_nationkey == F.col("n_nationkey"))
        .join(excess, supp.s_suppkey == excess.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@register(
    "q21_sole_late_supplier",
    oracle="""
    WITH order_supps AS (
        SELECT l.l_orderkey,
               COUNT(DISTINCT l.l_suppkey) AS n_supps,
               COUNT(DISTINCT CASE WHEN l.l_shipdate > o.o_orderdate
                                   THEN l.l_suppkey END) AS n_late
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderstatus = 'F'
        GROUP BY l.l_orderkey
    ), sole_late AS (
        SELECT DISTINCT l.l_suppkey, l.l_orderkey
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN order_supps os ON os.l_orderkey = l.l_orderkey
        WHERE o.o_orderstatus = 'F'
          AND l.l_shipdate > o.o_orderdate
          AND os.n_supps > 1
          AND os.n_late = 1
    )
    SELECT s_name, COUNT(*) AS numwait
    FROM sole_late JOIN supplier ON s_suppkey = l_suppkey
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 50
    """,
)
def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the double-EXISTS "suppliers who alone kept an
    order waiting" — another supplier participated (EXISTS) but none of
    the others was late (NOT EXISTS). Without commit/receipt dates the
    lateness predicate is shipdate > orderdate; the EXISTS pair is
    decorrelated into per-order distinct-supplier counts (the standard
    scale-out formulation: one aggregate instead of two correlated
    self-joins of the fact table)."""
    orders = (table(spark, sf_dir, "orders")
              .filter(F.col("o_orderstatus") == "F")
              .select("o_orderkey", "o_orderdate"))
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate")
    lo = li.join(orders, li.l_orderkey == orders.o_orderkey)
    late = F.col("l_shipdate") > F.col("o_orderdate")
    order_supps = (
        lo.groupBy("l_orderkey")
        .agg(F.countDistinct("l_suppkey").alias("n_supps"),
             F.countDistinct(F.when(late, F.col("l_suppkey")))
             .alias("n_late"))
    )
    sole_late = (
        lo.filter(late)
        .join(order_supps.filter((F.col("n_supps") > 1)
                                 & (F.col("n_late") == 1)),
              "l_orderkey", "left_semi")
        .select("l_suppkey", "l_orderkey")
        .dropDuplicates(["l_suppkey", "l_orderkey"])
    )
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sole_late.join(F.broadcast(supp),
                       sole_late.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Fulfillment latency percentiles
# ---------------------------------------------------------------------------

LAT_PCTS = (50, 90, 99)


@register(
    "q_ship_latency",
    oracle=f"""
    WITH lat AS (
        SELECT o.o_orderpriority AS priority,
               (epoch_us(l.l_shipdate) // {US_PER_DAY})
               - (epoch_us(o.o_orderdate) // {US_PER_DAY}) AS days
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), ranked AS (
        SELECT priority, days,
               ROW_NUMBER() OVER (PARTITION BY priority
                                  ORDER BY days) AS rn,
               COUNT(*) OVER (PARTITION BY priority) AS n
        FROM lat
    )
    SELECT priority, CAST(n AS BIGINT) AS n_items,
           {", ".join(
               f"MAX(CASE WHEN rn = 1 + ((n - 1) * {p}) // 100"
               f" THEN days END) AS p{p}_days" for p in LAT_PCTS)},
           MAX(days) AS max_days
    FROM ranked
    GROUP BY priority, n
    ORDER BY priority
    """)
def q_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency profile per order priority: exact
    nearest-rank p50/p90/p99 (plus max) of the day-count between order
    placement and each line item's ship date — the operational-SLA
    percentile report, exercising a fact-fact join feeding grouped exact
    percentiles. Day math is integer epoch-µs floor division
    (timezone-invariant); nearest-rank selection keeps everything in
    BIGINT.

    Scale: the join shuffles on orderkey (both sides key-partitioned;
    at 100 TB co-located by bucketing on the shared key), then ONE
    priority-keyed exchange carries the rank window, the count, and the
    rollup. |priorities| is tiny, so window partitions are wide but
    map-side partial CASE-MAX keeps the final aggregate cheap."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", epoch_us("l_shipdate").alias("ship_us"))
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderpriority").alias("priority"),
        epoch_us("o_orderdate").alias("order_us"))
    lat = (li.join(orders, li.l_orderkey == orders.o_orderkey)
           .select("priority",
                   F.expr(f"ship_us div {US_PER_DAY}"
                          f" - order_us div {US_PER_DAY}").alias("days")))
    from pyspark.sql import Window
    wp = Window.partitionBy("priority")
    ranked = (lat
              .withColumn("rn", F.row_number().over(wp.orderBy("days")))
              .withColumn("n", F.count("*").over(wp)))
    sels = [F.max(F.when(
                F.expr(f"rn = 1 + ((n - 1) * {p}) div 100"),
                F.col("days"))).alias(f"p{p}_days")
            for p in LAT_PCTS]
    return (ranked.groupBy("priority", F.col("n").cast("long")
                           .alias("n_items"))
            .agg(*sels, F.max("days").alias("max_days"))
            .orderBy("priority"))


# ---------------------------------------------------------------------------
# RFM customer segmentation
# ---------------------------------------------------------------------------

RFM_TOP = 20
_OCENTS = "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"


@register(
    "q_rfm_segments",
    oracle=f"""
    WITH per_cust AS (
        SELECT o_custkey AS custkey,
               MAX(epoch_us(o_orderdate) // {US_PER_DAY}) AS last_day,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               CAST(SUM({_OCENTS}) AS BIGINT) AS monetary_cents
        FROM orders GROUP BY o_custkey
    ), ref AS (SELECT MAX(last_day) AS now_day FROM per_cust),
    rfm AS (
        SELECT custkey, r.now_day - last_day AS recency_days,
               frequency, monetary_cents
        FROM per_cust CROSS JOIN ref r
    ), scored AS (
        SELECT custkey, recency_days, frequency, monetary_cents,
               1 + ((ROW_NUMBER() OVER (ORDER BY recency_days, custkey)
                     - 1) * 5)
                   // (COUNT(*) OVER ()) AS r_score,
               1 + ((ROW_NUMBER() OVER (ORDER BY frequency DESC, custkey)
                     - 1) * 5)
                   // (COUNT(*) OVER ()) AS f_score,
               1 + ((ROW_NUMBER() OVER (ORDER BY monetary_cents DESC,
                                        custkey) - 1) * 5)
                   // (COUNT(*) OVER ()) AS m_score
        FROM rfm
    )
    SELECT r_score, f_score, m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(monetary_cents) AS BIGINT) AS segment_cents
    FROM scored
    GROUP BY 1, 2, 3
    ORDER BY n_customers DESC, r_score, f_score, m_score
    LIMIT {RFM_TOP}
    """)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: every customer scored 1-5 on Recency (days
    since last order), Frequency (order count) and Monetary (lifetime
    cents) by exact rank-quintiles (1 + (rank-1)*5/n — deterministic,
    custkey tiebreak, no ntile edge ambiguity), then the top segments by
    population — the marketing-warehouse classic.

    Scale: orders collapse to one row per customer first; the three
    quintile ranks ARE range-partitioned two-phase ranks
    (corpus.two_phase_rank, r14 — was a promised-at-100TB global
    window), so no task ever holds the customer table. All integer."""
    orders = table(spark, sf_dir, "orders")
    per_cust = (orders.groupBy(F.col("o_custkey").alias("custkey"))
                .agg(F.max(epoch_us("o_orderdate")).alias("last_us"),
                     F.count("*").cast("long").alias("frequency"),
                     F.sum(F.expr(_OCENTS)).cast("long")
                     .alias("monetary_cents")))
    ref = per_cust.agg(F.max("last_us").alias("now_us"))
    # MAX commutes with the day floor: MAX(us) div d = MAX(us div d)
    rfm = (per_cust.crossJoin(F.broadcast(ref))
           .select("custkey",
                   F.expr(f"now_us div {US_PER_DAY}"
                          f" - last_us div {US_PER_DAY}")
                   .alias("recency_days"),
                   "frequency", "monetary_cents"))
    # r14: the three global quintile ranks run as range-partitioned
    # two-phase ranks (corpus.two_phase_rank) and the population total
    # as a broadcast 1-row aggregate — no single-task window anywhere
    # (the plan-audit unpartitioned-window gate enforces this now)
    from columnar_estimator_sample_spark.operators.corpus import (
        two_phase_rank,
    )
    tot = rfm.agg(F.count(F.lit(1)).cast("long").alias("n_all"))
    ranked = two_phase_rank(rfm, ["recency_days", "custkey"], "rn_r")
    ranked = two_phase_rank(ranked, [F.desc("frequency"), "custkey"],
                            "rn_f")
    ranked = two_phase_rank(ranked, [F.desc("monetary_cents"), "custkey"],
                            "rn_m")
    scored = (ranked.crossJoin(F.broadcast(tot))
              .select("custkey", "monetary_cents",
                      F.expr("1 + ((rn_r - 1) * 5) div n_all")
                      .alias("r_score"),
                      F.expr("1 + ((rn_f - 1) * 5) div n_all")
                      .alias("f_score"),
                      F.expr("1 + ((rn_m - 1) * 5) div n_all")
                      .alias("m_score")))
    return (scored.groupBy("r_score", "f_score", "m_score")
            .agg(F.count("*").cast("long").alias("n_customers"),
                 F.sum("monetary_cents").cast("long")
                 .alias("segment_cents"))
            .orderBy(F.desc("n_customers"), "r_score", "f_score", "m_score")
            .limit(RFM_TOP))


# ---------------------------------------------------------------------------
# Largest-remainder proration
# ---------------------------------------------------------------------------

PRORATE_MILLS = 1000  # per-order budget to allocate across its lineitems
_LCENTS_R4 = "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"


@register(
    "q_largest_remainder",
    oracle=f"""
    WITH li AS (
        SELECT l_orderkey, l_linenumber, {_LCENTS_R4} AS cents
        FROM lineitem
    ), tot AS (
        SELECT l_orderkey, CAST(SUM(cents) AS BIGINT) AS ocents,
               CAST(COUNT(*) AS BIGINT) AS n_items
        FROM li GROUP BY l_orderkey
    ), base AS (
        SELECT li.l_orderkey, li.l_linenumber, t.n_items,
               CAST(({PRORATE_MILLS} * CAST(li.cents AS HUGEINT)) // t.ocents
                    AS BIGINT) AS floor_alloc,
               CAST(({PRORATE_MILLS} * CAST(li.cents AS HUGEINT)) % t.ocents
                    AS BIGINT) AS rem
        FROM li JOIN tot t USING (l_orderkey)
    ), ranked AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                  ORDER BY rem DESC, l_linenumber) AS rk,
               CAST(SUM(floor_alloc) OVER (PARTITION BY l_orderkey)
                    AS BIGINT) AS base_sum
        FROM base
    ), alloc AS (
        SELECT l_orderkey, n_items,
               floor_alloc + CASE WHEN rk <= {PRORATE_MILLS} - base_sum
                                  THEN 1 ELSE 0 END AS mills
        FROM ranked
    )
    SELECT n_items,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           CAST(SUM(mills) AS BIGINT) AS total_mills,
           MIN(mills) AS min_item_mills,
           MAX(mills) AS max_item_mills
    FROM alloc
    GROUP BY n_items
    ORDER BY n_items
    """)
def q_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) proration: allocate a fixed
    {PRORATE_MILLS}-mill budget per order across its lineitems
    proportional to price, with floor allocations topped up by +1 in
    descending-remainder order (linenumber tiebreak) so every order's
    allocation sums EXACTLY to the budget — the apportionment algorithm
    invoices, revenue-recognition, and cost-allocation pipelines need
    (naive rounding drifts; banker's rounding still drifts; largest
    remainder never does). The report groups orders by size and proves
    total_mills == {PRORATE_MILLS} * n_orders per group.

    Scale: one orderkey-keyed exchange carries the totals join, the
    remainder rank, and the base-sum window; allocation is then
    embarrassingly parallel. 128-bit lanes for the cents products."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", F.expr(_LCENTS_R4).alias("cents"))
    tot = (li.groupBy("l_orderkey")
           .agg(F.sum("cents").cast("long").alias("ocents"),
                F.count("*").cast("long").alias("n_items")))
    base = (li.join(tot, "l_orderkey")
            .select("l_orderkey", "l_linenumber", "n_items",
                    F.expr(f"CAST(({PRORATE_MILLS}"
                           f" * CAST(cents AS DECIMAL(38,0))) div ocents"
                           f" AS BIGINT)").alias("floor_alloc"),
                    F.expr(f"CAST(({PRORATE_MILLS}"
                           f" * CAST(cents AS DECIMAL(38,0))) % ocents"
                           f" AS BIGINT)").alias("rem")))
    from pyspark.sql import Window
    wo = Window.partitionBy("l_orderkey")
    ranked = (base
              .withColumn("rk", F.row_number().over(
                  wo.orderBy(F.desc("rem"), "l_linenumber")))
              .withColumn("base_sum",
                          F.sum("floor_alloc").over(wo).cast("long")))
    alloc = ranked.select(
        "l_orderkey", "n_items",
        F.expr(f"floor_alloc + CASE WHEN rk <= {PRORATE_MILLS} - base_sum"
               f" THEN 1 ELSE 0 END").alias("mills"))
    return (alloc.groupBy("n_items")
            .agg(F.countDistinct("l_orderkey").cast("long")
                 .alias("n_orders"),
                 F.sum("mills").cast("long").alias("total_mills"),
                 F.min("mills").alias("min_item_mills"),
                 F.max("mills").alias("max_item_mills"))
            .orderBy("n_items"))


# ---------------------------------------------------------------------------
# Customer value-migration matrix
# ---------------------------------------------------------------------------


@register(
    "q_value_migration",
    oracle=f"""
    WITH o AS (
        SELECT o_custkey AS custkey, epoch_us(o_orderdate) AS us,
               {_OCENTS} AS cents
        FROM orders
    ), rng AS (SELECT MIN(us) AS mn, MAX(us) AS mx FROM o),
    halves AS (
        SELECT custkey,
               CASE WHEN us < (mn + mx) // 2 THEN 1 ELSE 2 END AS half,
               cents
        FROM o, rng
    ), spend AS (
        SELECT custkey, half, CAST(SUM(cents) AS BIGINT) AS cents
        FROM halves GROUP BY 1, 2
    ), scored AS (
        SELECT custkey, half,
               1 + ((ROW_NUMBER() OVER (PARTITION BY half
                                        ORDER BY cents DESC, custkey) - 1)
                    * 3) // (COUNT(*) OVER (PARTITION BY half)) AS tier
        FROM spend
    ), m AS (
        SELECT a.tier AS tier_first, b.tier AS tier_second,
               CAST(COUNT(*) AS BIGINT) AS n_customers
        FROM scored a JOIN scored b
          ON b.custkey = a.custkey AND a.half = 1 AND b.half = 2
        GROUP BY 1, 2
    )
    SELECT tier_first, tier_second, n_customers
    FROM m
    ORDER BY tier_first, tier_second
    """)
def q_value_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer value-migration matrix: spend-tier (exact rank terciles,
    1=top) in the first half of the order history vs the second, for
    customers active in both — the upgrade/downgrade/churn-risk flow
    report behind "customer movement" dashboards (diagonal = stable,
    above = declining, below = ascending).

    Scale: orders collapse per (customer, half) first; tier ranks are
    two half-partitioned windows over the customer table (range-rank
    two_phase shape at 100 TB, as q_abc_parts); the matrix is 3x3."""
    orders = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        epoch_us("o_orderdate").alias("us"),
        F.expr(_OCENTS).alias("cents"))
    rng = orders.agg(F.min("us").alias("mn"), F.max("us").alias("mx"))
    spend = (orders.crossJoin(F.broadcast(rng))
             .select("custkey", "cents",
                     F.expr("CASE WHEN us < (mn + mx) div 2 THEN 1"
                            " ELSE 2 END").alias("half"))
             .groupBy("custkey", "half")
             .agg(F.sum("cents").cast("long").alias("cents")))
    from pyspark.sql import Window
    wh = Window.partitionBy("half")
    scored = (spend
              .withColumn("rn", F.row_number().over(
                  wh.orderBy(F.desc("cents"), "custkey")))
              .withColumn("nh", F.count("*").over(wh))
              .select("custkey", "half",
                      F.expr("1 + ((rn - 1) * 3) div nh").alias("tier")))
    a = (scored.filter(F.col("half") == 1)
         .select("custkey", F.col("tier").alias("tier_first")))
    b = (scored.filter(F.col("half") == 2)
         .select("custkey", F.col("tier").alias("tier_second")))
    return (a.join(b, "custkey")
            .groupBy("tier_first", "tier_second")
            .agg(F.count("*").cast("long").alias("n_customers"))
            .orderBy("tier_first", "tier_second"))


# ---------------------------------------------------------------------------
# Median order value per market segment
# ---------------------------------------------------------------------------


@register(
    "q_segment_median_order",
    oracle=f"""
    WITH o AS (
        SELECT c.c_mktsegment AS segment, {_OCENTS} AS cents,
               o.o_orderkey
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), ranked AS (
        SELECT segment, cents,
               ROW_NUMBER() OVER (PARTITION BY segment
                                  ORDER BY cents, o_orderkey) AS rn,
               COUNT(*) OVER (PARTITION BY segment) AS n
        FROM o
    )
    SELECT segment, CAST(n AS BIGINT) AS n_orders,
           MAX(CASE WHEN rn = (n + 1) // 2 THEN cents END)
               AS median_cents
    FROM ranked
    GROUP BY segment, n
    ORDER BY segment
    """)
def q_segment_median_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (lower) median order value per customer market segment —
    the robust BI headline the mean-based dashboards overstate whenever
    whales skew a segment. Rank-select median over one segment-keyed
    exchange; the customer dimension broadcasts onto the fact scan.

    Scale: same grouped nearest-rank shape as q_ship_latency — the
    window and rollup share one exchange; |segments| is tiny."""
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.expr(_OCENTS).alias("cents"))
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment"))
    o = orders.join(F.broadcast(cust),
                    orders.o_custkey == cust.c_custkey)
    from pyspark.sql import Window
    ws = Window.partitionBy("segment")
    ranked = (o.withColumn("rn", F.row_number().over(
                  ws.orderBy("cents", "o_orderkey")))
              .withColumn("n", F.count("*").over(ws)))
    return (ranked.groupBy("segment",
                           F.col("n").cast("long").alias("n_orders"))
            .agg(F.max(F.when(F.expr("rn = (n + 1) div 2"),
                              F.col("cents"))).alias("median_cents"))
            .orderBy("segment"))


# ---------------------------------------------------------------------------
# Return rate by market segment
# ---------------------------------------------------------------------------


@register(
    "q_return_rate_segment",
    oracle="""
    WITH j AS (
        SELECT c.c_mktsegment AS segment,
               CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
    )
    SELECT segment,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(ret) AS BIGINT) AS n_returned,
           (1000 * CAST(SUM(ret) AS BIGINT)) // COUNT(*)
               AS return_permille
    FROM j
    GROUP BY segment
    ORDER BY segment
    """)
def q_return_rate_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return rate per customer market segment in exact permille — the
    merchandise-quality / customer-fit signal sliced by who is buying
    (a segment far off the base rate flags mis-targeted assortment or
    fraud). One fact-fact join on orderkey with the customer dimension
    broadcast, then a |segments|-row conditional aggregate."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.expr("CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END")
        .alias("ret"))
    orders = table(spark, sf_dir, "orders").select("o_orderkey",
                                                   "o_custkey")
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment"))
    j = (li.join(orders, li.l_orderkey == orders.o_orderkey)
         .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey))
    return (j.groupBy("segment")
            .agg(F.count("*").cast("long").alias("n_items"),
                 F.sum("ret").cast("long").alias("n_returned"))
            .withColumn("return_permille",
                        F.expr("(1000 * n_returned) div n_items"))
            .orderBy("segment"))


# ---------------------------------------------------------------------------
# First-order-value predictiveness
# ---------------------------------------------------------------------------


@register(
    "q_first_order_predictiveness",
    oracle=f"""
    WITH o AS (
        SELECT o_custkey AS custkey, {_OCENTS} AS cents,
               epoch_us(o_orderdate) AS us, o_orderkey
        FROM orders
    ), firsts AS (
        SELECT custkey, cents AS first_cents FROM (
            SELECT custkey, cents,
                   ROW_NUMBER() OVER (PARTITION BY custkey
                                      ORDER BY us, o_orderkey) AS rn
            FROM o
        ) WHERE rn = 1
    ), ltv AS (
        SELECT custkey, CAST(SUM(cents) AS BIGINT) AS total_cents
        FROM o GROUP BY custkey
    ), scored AS (
        SELECT f.custkey, f.first_cents, l.total_cents,
               1 + ((ROW_NUMBER() OVER (ORDER BY f.first_cents,
                                        f.custkey) - 1) * 5)
                   // (COUNT(*) OVER ()) AS quintile
        FROM firsts f JOIN ltv l USING (custkey)
    )
    SELECT quintile,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(CAST(SUM(first_cents) AS HUGEINT) // COUNT(*) AS BIGINT)
               AS avg_first_cents,
           CAST(CAST(SUM(total_cents) AS HUGEINT) // COUNT(*) AS BIGINT)
               AS avg_ltv_cents
    FROM scored
    GROUP BY quintile
    ORDER BY quintile
    """)
def q_first_order_predictiveness(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Does the FIRST order predict lifetime value? Customers bucketed
    into exact rank-quintiles of their first order's value, each bucket
    reporting its floor-average first-order and lifetime totals — a
    rising LTV column across quintiles is the signal that early spend
    segments acquisition cohorts (the poor-man's-LTV-model every
    marketing warehouse starts from).

    Scale: first orders by one custkey-keyed rank, LTV by one custkey
    aggregate, the quintile by a global rank over the customer table
    (corpus.two_phase_rank — an actual range rank since r14, not a
    single-task window). All integer floor means."""
    orders = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.expr(_OCENTS).alias("cents"),
        epoch_us("o_orderdate").alias("us"),
        "o_orderkey")
    from pyspark.sql import Window
    wc = Window.partitionBy("custkey").orderBy("us", "o_orderkey")
    firsts = (orders.withColumn("rn", F.row_number().over(wc))
              .filter(F.col("rn") == 1)
              .select("custkey", F.col("cents").alias("first_cents")))
    ltv = (orders.groupBy("custkey")
           .agg(F.sum("cents").cast("long").alias("total_cents")))
    joined = firsts.join(ltv, "custkey")
    # r14: global quintile rank as a range-partitioned two-phase rank +
    # broadcast total (no single-task window — plan-audit gate)
    from columnar_estimator_sample_spark.operators.corpus import (
        two_phase_rank,
    )
    tot = joined.agg(F.count(F.lit(1)).cast("long").alias("nt"))
    scored = (two_phase_rank(joined, ["first_cents", "custkey"], "rn")
              .crossJoin(F.broadcast(tot))
              .withColumn("quintile",
                          F.expr("1 + ((rn - 1) * 5) div nt")))
    return (scored.groupBy("quintile")
            .agg(F.count("*").cast("long").alias("n_customers"),
                 F.expr("CAST(SUM(CAST(first_cents AS DECIMAL(38,0)))"
                        " div COUNT(*) AS BIGINT)")
                 .alias("avg_first_cents"),
                 F.expr("CAST(SUM(CAST(total_cents AS DECIMAL(38,0)))"
                        " div COUNT(*) AS BIGINT)")
                 .alias("avg_ltv_cents"))
            .orderBy("quintile"))


# ---------------------------------------------------------------------------
# Approximate query processing with a float-free confidence interval
# ---------------------------------------------------------------------------

AQP_P_PERMILLE = 10    # 1% Bernoulli hash sample


@register(
    "q_aqp_ci",
    oracle=f"""
    WITH li AS (
        SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                    AS BIGINT) AS y_c,
               CASE WHEN CAST(('0x' || substr(md5('aqp|'
                        || CAST(l_orderkey AS VARCHAR) || '|'
                        || CAST(l_linenumber AS VARCHAR)), 1, 15))
                        AS BIGINT) % 1000 < {AQP_P_PERMILLE}
                    THEN 1 ELSE 0 END AS s
        FROM lineitem
    ), agg AS (
        SELECT CAST(SUM(s) AS BIGINT) AS n_sample,
               CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(SUM(CASE WHEN s = 1 THEN y_c ELSE 0 END)
                    AS BIGINT) AS sum_s_c,
               CAST(SUM(y_c) AS BIGINT) AS true_c,
               SUM(CASE WHEN s = 1
                        THEN CAST(y_c AS DECIMAL(19,0))
                             * CAST(y_c AS DECIMAL(19,0))
                        ELSE CAST(0 AS DECIMAL(38,0)) END) AS sumsq_c2
        FROM li
    ), est AS (
        SELECT n_sample, n_total,
               100 * sum_s_c AS est_c, true_c,
               CAST((9900 * sumsq_c2) // 10000 AS BIGINT) AS vhat_d2
        FROM agg
    )
    SELECT n_sample, n_total, est_c, true_c,
           (1000000 * ABS(est_c - true_c)) // true_c AS err_ppm,
           196 * CAST(FLOOR(SQRT(CAST(vhat_d2 AS DOUBLE))) AS BIGINT)
               AS ci95_halfwidth_c,
           CASE WHEN ABS(est_c - true_c)
                     <= 196 * CAST(FLOOR(SQRT(CAST(vhat_d2 AS DOUBLE)))
                                   AS BIGINT)
                THEN 1 ELSE 0 END AS ci95_covers
    FROM est
    """)
def q_aqp_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate query processing with an error bar: estimate total
    revenue from a 1% Bernoulli hash sample via the Horvitz-Thompson
    estimator (est = sum_sample / p) and attach a 95% CLT confidence
    interval from the unbiased Poisson-sampling variance estimator
    v̂ = (1-p)/p² · Σ_sample y² — the query shape that answers "SUM over
    100 TB, ±1%, reading 1 TB". The interval math is float-free except
    one correctly-rounded IEEE sqrt on an int64 (the q_source_temperature
    contract): everything else is cents-integer / decimal(38) exact, and
    coverage (|est−true| ≤ 1.96·σ̂) is decided by integer comparison.
    The true total appears only to audit the estimator; production AQP
    drops it and touches 1% of the data.

    Scale: the sample decision is a stateless hash folded into the scan
    (no shuffle to sample); one combiner-friendly aggregate carries
    (n, Σy, Σy²) — the classic one-pass sufficient-statistics pattern."""
    li = table(spark, sf_dir, "lineitem")
    h = ("CAST(conv(substr(md5(concat('aqp|', CAST(l_orderkey AS STRING),"
         " '|', CAST(l_linenumber AS STRING))), 1, 15), 16, 10)"
         " AS BIGINT)")
    y = F.expr("CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100"
               " AS BIGINT)")
    s = F.expr(f"CASE WHEN {h} % 1000 < {AQP_P_PERMILLE}"
               " THEN 1 ELSE 0 END")
    base = li.select(y.alias("y_c"), s.alias("s"))
    agg = base.agg(
        F.sum("s").cast("long").alias("n_sample"),
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum(F.expr("CASE WHEN s = 1 THEN y_c ELSE 0 END"))
        .cast("long").alias("sum_s_c"),
        F.sum("y_c").cast("long").alias("true_c"),
        F.sum(F.expr(
            "CASE WHEN s = 1 THEN CAST(y_c AS DECIMAL(19,0))"
            " * CAST(y_c AS DECIMAL(19,0))"
            " ELSE CAST(0 AS DECIMAL(38,0)) END")).alias("sumsq_c2"))
    est = agg.select(
        "n_sample", "n_total",
        F.expr("100 * sum_s_c").alias("est_c"), "true_c",
        F.expr("CAST((9900 * sumsq_c2) DIV 10000 AS BIGINT)")
        .alias("vhat_d2"))
    hw = ("196 * CAST(FLOOR(SQRT(CAST(vhat_d2 AS DOUBLE))) AS BIGINT)")
    return est.select(
        "n_sample", "n_total", "est_c", "true_c",
        F.expr("(1000000 * ABS(est_c - true_c)) DIV true_c")
        .alias("err_ppm"),
        F.expr(hw).alias("ci95_halfwidth_c"),
        F.expr(f"CASE WHEN ABS(est_c - true_c) <= {hw}"
               " THEN 1 ELSE 0 END").alias("ci95_covers"))


# ---------------------------------------------------------------------------
# Price/volume/mix revenue decomposition (exactly additive)
# ---------------------------------------------------------------------------

PVM_OLD = ("1996-01-01 00:00:00", "1997-01-01 00:00:00")
PVM_NEW = ("1997-01-01 00:00:00", "1998-01-01 00:00:00")


@register(
    "q_revenue_decomposition",
    oracle=f"""
    WITH li AS (
        SELECT c.c_mktsegment AS segment,
               CASE WHEN l.l_shipdate >= TIMESTAMP '{PVM_OLD[0]}'
                     AND l.l_shipdate <  TIMESTAMP '{PVM_OLD[1]}'
                    THEN 'old' ELSE 'new' END AS era,
               CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * 100
                    AS BIGINT) AS cents,
               CAST(l.l_quantity AS BIGINT) AS qty
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE l.l_shipdate >= TIMESTAMP '{PVM_OLD[0]}'
          AND l.l_shipdate <  TIMESTAMP '{PVM_NEW[1]}'
    ), eras AS (
        SELECT segment,
               CAST(SUM(CASE WHEN era = 'old' THEN cents ELSE 0 END)
                    AS BIGINT) AS rev_old_c,
               CAST(SUM(CASE WHEN era = 'new' THEN cents ELSE 0 END)
                    AS BIGINT) AS rev_new_c,
               CAST(SUM(CASE WHEN era = 'old' THEN qty ELSE 0 END)
                    AS BIGINT) AS qty_old,
               CAST(SUM(CASE WHEN era = 'new' THEN qty ELSE 0 END)
                    AS BIGINT) AS qty_new
        FROM li GROUP BY segment
    )
    SELECT segment, rev_old_c, rev_new_c,
           rev_new_c - rev_old_c AS delta_c,
           (qty_new - qty_old) * (rev_old_c // qty_old)
               AS volume_effect_c,
           (rev_new_c - rev_old_c)
               - (qty_new - qty_old) * (rev_old_c // qty_old)
               AS price_mix_effect_c
    FROM eras
    ORDER BY segment
    """)
def q_revenue_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period revenue-change decomposition per market
    segment — the "why did the metric move" query behind every growth
    dashboard: Δrevenue splits into a VOLUME effect (quantity change
    priced at the old period's realized rate, rate = integer cents per
    unit) and a PRICE/MIX residual, additive BY CONSTRUCTION
    (volume + price_mix = delta exactly, in integer cents — no
    float drift, test-pinned). The integer rate makes the split exactly
    reproducible across engines; the residual absorbs the sub-cent
    rate remainder alongside true price/mix shifts, the standard
    accounting treatment.

    Scale: two-era filter pushes to the scan, one hash aggregate per
    segment after broadcast-dim joins (customer segment via orders) —
    the same star shape as q05; both eras aggregate in ONE pass via
    conditional sums instead of two scans + a self-join."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey")
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment")
    lo, hi = PVM_OLD[0], PVM_NEW[1]
    base = (
        li.filter(
            (F.col("l_shipdate") >= F.lit(lo).cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit(hi).cast("timestamp_ntz")))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.when(
                (F.col("l_shipdate")
                 >= F.lit(PVM_OLD[0]).cast("timestamp_ntz"))
                & (F.col("l_shipdate")
                   < F.lit(PVM_OLD[1]).cast("timestamp_ntz")),
                "old").otherwise("new").alias("era"),
            F.expr("CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100"
                   " AS BIGINT)").alias("cents"),
            F.col("l_quantity").cast("long").alias("qty")))
    eras = base.groupBy("segment").agg(
        F.sum(F.expr("CASE WHEN era = 'old' THEN cents ELSE 0 END"))
        .cast("long").alias("rev_old_c"),
        F.sum(F.expr("CASE WHEN era = 'new' THEN cents ELSE 0 END"))
        .cast("long").alias("rev_new_c"),
        F.sum(F.expr("CASE WHEN era = 'old' THEN qty ELSE 0 END"))
        .cast("long").alias("qty_old"),
        F.sum(F.expr("CASE WHEN era = 'new' THEN qty ELSE 0 END"))
        .cast("long").alias("qty_new"))
    return eras.select(
        "segment", "rev_old_c", "rev_new_c",
        F.expr("rev_new_c - rev_old_c").alias("delta_c"),
        F.expr("(qty_new - qty_old) * (rev_old_c DIV qty_old)")
        .alias("volume_effect_c"),
        F.expr("(rev_new_c - rev_old_c) - (qty_new - qty_old)"
               " * (rev_old_c DIV qty_old)")
        .alias("price_mix_effect_c")).orderBy("segment")


# ---------------------------------------------------------------------------
# Hierarchy rollup (path enumeration over an implicit tree)
# ---------------------------------------------------------------------------

HIER_LEVELS = 7    # decimal-digit tree: parent(p) = p DIV 10
HIER_TOP = 15


@register(
    "q_hierarchy_rollup",
    oracle=f"""
    WITH chains AS (
        SELECT unnest(list_filter(
                   [{", ".join(f"p_partkey // {10 ** k}"
                               for k in range(HIER_LEVELS + 1))}],
                   x -> x > 0)) AS node,
               CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100
                    AS BIGINT) AS cents
        FROM part
    )
    SELECT node,
           CAST(length(CAST(node AS VARCHAR)) AS BIGINT) AS level,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(cents) AS BIGINT) AS subtree_value_c
    FROM chains
    GROUP BY node
    ORDER BY subtree_value_c DESC, node
    LIMIT {HIER_TOP}
    """)
def q_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup over an implicit category tree (node p's
    parent is p DIV 10 — a stand-in for BOM / org-chart / category
    hierarchies): every part contributes its retail value to itself and
    every ancestor, answered by PATH ENUMERATION — explode each row's
    ancestor chain (bounded depth) and hash-aggregate once — instead of
    iterative self-joins or WITH RECURSIVE. At bounded depth d this is
    the 100 TB-correct plan: one narrow O(N·d) explode feeding a
    combiner-friendly aggregate, no per-level shuffle rounds and no
    driver-side fixpoint loop; the recursive-CTE formulation would run
    d dependent joins. Report: heaviest subtrees with their tree level.

    Ancestor chains are strictly decreasing, so the bounded array has
    no duplicates after the >0 filter — each part counts exactly once
    per ancestor (conservation test-pinned)."""
    part = table(spark, sf_dir, "part")
    chain = F.expr(
        "filter(array(" + ", ".join(
            f"CAST(p_partkey DIV {10 ** k} AS BIGINT)"
            for k in range(HIER_LEVELS + 1)) + "), x -> x > 0)")
    chains = part.select(
        F.explode(chain).alias("node"),
        F.expr("CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100"
               " AS BIGINT)").alias("cents"))
    return (chains.groupBy("node")
            .agg(F.count("*").cast("long").alias("n_parts"),
                 F.sum("cents").cast("long").alias("subtree_value_c"))
            .select("node",
                    F.length(F.col("node").cast("string")).cast("long")
                    .alias("level"),
                    "n_parts", "subtree_value_c")
            .orderBy(F.desc("subtree_value_c"), "node")
            .limit(HIER_TOP))


# ---------------------------------------------------------------------------
# Top-N per group with an OTHER bucket (dashboard rollup primitive)
# ---------------------------------------------------------------------------

TOPN_KEEP = 2


@register(
    "q_group_topn_other",
    oracle=f"""
    WITH rev AS (
        SELECT r.r_name AS region_name, n.n_name AS nation_name,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100
                        ) AS BIGINT) AS revenue_c
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY 1, 2
    ), ranked AS (
        SELECT *, row_number() OVER (PARTITION BY region_name
                                     ORDER BY revenue_c DESC,
                                              nation_name) AS rn
        FROM rev
    )
    SELECT region_name,
           CASE WHEN rn <= {TOPN_KEEP} THEN nation_name
                ELSE 'OTHER' END AS nation_label,
           CAST(SUM(revenue_c) AS BIGINT) AS revenue_c,
           CAST(COUNT(*) AS BIGINT) AS n_nations
    FROM ranked
    GROUP BY 1, 2
    ORDER BY region_name,
             CASE WHEN nation_label = 'OTHER' THEN 1 ELSE 0 END,
             revenue_c DESC, nation_label
    """)
def q_group_topn_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N-per-group with an OTHER bucket — the rollup every dashboard
    legend needs (keep the biggest TOPN_KEEP members per group, fold the
    tail into one labeled row so totals still reconcile): rank inside
    the group, relabel the tail, re-aggregate. Conservation (sum over
    labels = group total) is test-pinned.

    Scale: one star-join aggregate to |groups×members| rows, a window
    over that SMALL frame, one regroup — the raw fact table is touched
    once; broadcast dimensions."""
    from pyspark.sql.window import Window as W
    orders = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice")
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey")
    nation = table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey", "n_name")
    region = table(spark, sf_dir, "region").select(
        "r_regionkey", "r_name")
    rev = (orders.join(F.broadcast(cust),
                       orders.o_custkey == cust.c_custkey)
           .join(F.broadcast(nation),
                 cust.c_nationkey == nation.n_nationkey)
           .join(F.broadcast(region),
                 nation.n_regionkey == region.r_regionkey)
           .groupBy(F.col("r_name").alias("region_name"),
                    F.col("n_name").alias("nation_name"))
           .agg(F.expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))"
                       " * 100) AS BIGINT)").alias("revenue_c")))
    w = W.partitionBy("region_name").orderBy(F.desc("revenue_c"),
                                             "nation_name")
    ranked = rev.withColumn("rn", F.row_number().over(w))
    return (ranked
            .withColumn("nation_label",
                        F.when(F.col("rn") <= TOPN_KEEP,
                               F.col("nation_name"))
                        .otherwise(F.lit("OTHER")))
            .groupBy("region_name", "nation_label")
            .agg(F.sum("revenue_c").cast("long").alias("revenue_c"),
                 F.count("*").cast("long").alias("n_nations"))
            .orderBy("region_name",
                     F.expr("CASE WHEN nation_label = 'OTHER'"
                            " THEN 1 ELSE 0 END"),
                     F.desc("revenue_c"), "nation_label"))
