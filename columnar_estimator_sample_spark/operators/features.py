"""Feature-engineering operators: normalization and feature hashing.

The reference's feature layer (/root/reference/trainer.py:256-269) builds
  * numeric features from pre-normalized ``int{N}_norm`` columns
    (normalization contract: (x - mean) / std, produced upstream), and
  * hashed categorical features with bucket count = NDV * 5 from its
    hand-maintained cardinality catalog (trainer.py:91-118, 264).

Here both are engine operators: normalization as an agg+join (exact,
decimal-based so the oracle matches bit-for-bit), hashing via the portable
md5 bucket hash. Schema-driven column selection (trainer.py:257-267 —
pick columns by *type*) is :func:`columns_by_type`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from columnar_estimator_sample_spark.functions.exact import sql_dsum, dsum
from columnar_estimator_sample_spark.functions.hashing import h64, sql_h64
from columnar_estimator_sample_spark.registry import register
from columnar_estimator_sample_spark.sources.tables import table


def columns_by_type(df: DataFrame, *dtypes: type,
                    exclude: tuple[str, ...] = ()) -> list[str]:
    """Schema-filtered projection (trainer.py:257-267): select column names
    whose Spark type is an instance of any of ``dtypes``."""
    return [f.name for f in df.schema.fields
            if isinstance(f.dataType, dtypes) and f.name not in exclude]


def normalize(df: DataFrame, cols: list[str],
              suffix: str = "_norm") -> DataFrame:
    """Append ``col_norm = (col - mean) / stddev`` columns (the reference's
    ``int{N}_norm`` contract). One aggregation job + a broadcast join of
    the 1-row stats frame — two passes, no per-row Python."""
    aggs = []
    for c in cols:
        aggs += [F.avg(c).alias(f"__mean_{c}"),
                 F.stddev_samp(c).alias(f"__std_{c}")]
    stats = df.agg(*aggs)
    out = df.crossJoin(F.broadcast(stats))
    for c in cols:
        out = out.withColumn(
            c + suffix,
            (F.col(c) - F.col(f"__mean_{c}")) / F.col(f"__std_{c}"))
    return out.drop(*[f"__mean_{c}" for c in cols],
                    *[f"__std_{c}" for c in cols])


@register(
    "q_normalization_stats",
    oracle=f"""
    WITH s AS (
        SELECT l_linenumber,
               COUNT(l_quantity) AS n,
               {sql_dsum("l_quantity", "sum_q", 6)},
               {sql_dsum("l_quantity * l_quantity", "sum_q2", 6)}
        FROM lineitem
        GROUP BY l_linenumber
    )
    SELECT l_linenumber, n,
           sum_q / n AS mean_qty,
           sqrt((sum_q2 - sum_q * sum_q / n) / (n - 1)) AS std_qty
    FROM s
    ORDER BY l_linenumber
    """,
)
def q_normalization_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The statistics that drive the ``*_norm`` columns, computed exactly:
    mean and stddev from decimal-exact sum and sum-of-squares (so both
    engines evaluate the same closed-form double expression — Welford-style
    streaming stddev would differ in the last ulp between engines)."""
    li = table(spark, sf_dir, "lineitem")
    g = (
        li.groupBy("l_linenumber")
        .agg(F.count("l_quantity").alias("n"),
             dsum(F.col("l_quantity"), "sum_q", 6),
             dsum(F.col("l_quantity") * F.col("l_quantity"), "sum_q2", 6))
    )
    return (
        g.select(
            "l_linenumber", "n",
            (F.col("sum_q") / F.col("n")).alias("mean_qty"),
            F.sqrt((F.col("sum_q2")
                    - F.col("sum_q") * F.col("sum_q") / F.col("n"))
                   / (F.col("n") - 1)).alias("std_qty"),
        )
        .orderBy("l_linenumber")
    )


@register(
    "q_feature_hash_buckets",
    oracle=f"""
    SELECT ({sql_h64('c_mktsegment')} % 25) AS bucket,
           COUNT(*) AS n_customers,
           COUNT(DISTINCT c_mktsegment) AS n_values
    FROM customer
    GROUP BY 1
    ORDER BY bucket
    """,
)
def q_feature_hash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing with the reference's sizing rule: bucket count =
    NDV * 5 (trainer.py:264). c_mktsegment has NDV=5 -> 25 buckets; the
    query reports bucket occupancy (n_values > 1 would mean a collision).
    """
    cust = table(spark, sf_dir, "customer")
    return (
        cust.select((h64(F.col("c_mktsegment")) % 25).alias("bucket"),
                    "c_mktsegment")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_customers"),
             F.countDistinct("c_mktsegment").alias("n_values"))
        .orderBy("bucket")
    )


def hashed_feature_columns(df: DataFrame, ndv_catalog: dict[str, int],
                           multiplier: int = 5) -> DataFrame:
    """Append ``<col>_bucket`` for every string column present in the NDV
    catalog — the full categorical_column_with_hash_bucket analogue
    (trainer.py:262-267), bucket count = NDV * multiplier."""
    out = df
    for c in columns_by_type(df, T.StringType):
        if c in ndv_catalog:
            out = out.withColumn(
                c + "_bucket", h64(F.col(c)) % (ndv_catalog[c] * multiplier))
    return out
