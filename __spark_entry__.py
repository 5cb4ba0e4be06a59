"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash).

All implementations live in ``columnar_estimator_sample_spark``; this
module is the registry façade (the reference's dispatch-by-name layer,
/root/reference/trainer.py:181-182,515).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from columnar_estimator_sample_spark import registry  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the 6-way star join with
    exact aggregation (scan -> filter -> broadcast joins -> agg -> sort)."""
    from columnar_estimator_sample_spark.operators.relational import (
        q05_regional_revenue,
    )
    return q05_regional_revenue(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return registry.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle twins (ANSI SQL over the same parquet views)."""
    return registry.oracle_sql()
