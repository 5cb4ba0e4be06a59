"""Statistics & cardinality estimation — the engine's north-star module.

The reference hard-codes a per-column distinct-value catalog
(/root/reference/trainer.py:91-118 ``vocab_size``) and consumes it to size
physical structures (hash buckets = NDV*5, trainer.py:264). This module is
the Spark-native generalization:

  * :func:`ndv_catalog` computes the catalog from data with Spark's
    built-in DataSketches HLL (``hll_sketch_agg`` /
    ``hll_sketch_estimate``) at lgConfigK = max(12, ceil(log2((1.04 /
    rsd)²))), capped at 21 — one pass, mergeable sketches (the binary
    format ``hll_union_agg`` merges), the only approach that works at
    100 TB (exact distinct for verification at test scale via
    ``exact=True``).
  * :func:`analyze_tables` persists column-level stats into the session
    catalog (``ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS``) where
    Catalyst's cost-based optimizer consumes distinctCount/min/max/nulls
    for join reordering and build-side selection
    (``spark.sql.cbo.enabled`` is on in session.py).
  * :func:`estimation_report` extracts estimated-vs-actual row counts from
    the optimized plan (``explain("cost")`` machinery) so estimator
    quality is observable, mirroring how the reference surfaces pipeline
    statistics through its profiler hook (trainer.py:328-350).
"""

from __future__ import annotations

import math
import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def ndv_catalog(df: DataFrame, cols: list[str] | None = None,
                exact: bool = False, rsd: float = 0.02) -> dict[str, int]:
    """Per-column NDV catalog (the ``vocab_size`` dict, computed not
    hand-maintained). DataSketches HLL sketches by default, exact for
    tests. The sketch's relative standard error is 1.04 / sqrt(2^k) for
    lgConfigK k, so k = ceil(log2((1.04 / rsd)²)) keeps ``rsd`` an upper
    bound; it is never coarser than the library default of 12 nor
    finer than the library maximum of 21."""
    cols = cols or df.columns
    if exact:
        aggs = [F.countDistinct(c).alias(c) for c in cols]
    else:
        k = min(21, max(12, math.ceil(math.log2((1.04 / rsd) ** 2))))
        aggs = [F.hll_sketch_estimate(F.hll_sketch_agg(
            _sketchable(df.schema[c].dataType, F.col(c)), k)).alias(c)
            for c in cols]
    row = df.agg(*aggs).collect()[0]
    return {c: int(row[c] or 0) for c in cols}


def _sketchable(dt: T.DataType, col: Column) -> Column:
    """``col`` as a type ``hll_sketch_agg`` accepts (INT, BIGINT,
    STRING, BINARY), converted losslessly so that distinct values stay
    distinct; nulls stay null."""
    if isinstance(dt, (T.IntegerType, T.LongType, T.StringType,
                       T.BinaryType)):
        return col
    if isinstance(dt, T.TimestampType):
        # a local-time string repeats in the hour a DST change folds
        return F.unix_micros(col)
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        # countDistinct counts -0.0 and 0.0 as one value; their
        # strings differ
        col = F.when(col == 0, F.lit(0.0)).otherwise(col)
    return col.cast("string")


def hash_bucket_sizes(catalog: dict[str, int]) -> dict[str, int]:
    """The reference's sizing rule: buckets = NDV * 5 (trainer.py:264)."""
    return {c: ndv * 5 for c, ndv in catalog.items()}


def analyze_tables(spark: SparkSession, names: list[str],
                   columns: dict[str, list[str]] | None = None) -> None:
    """Persist table + column statistics for CBO. Tables must be saved in
    the session catalog (saveAsTable) first."""
    for name in names:
        cols = (columns or {}).get(name)
        col_clause = f" FOR COLUMNS {', '.join(cols)}" if cols else " FOR ALL COLUMNS"
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS{col_clause}")


_EST_RE = re.compile(r"Statistics\(([^)]*)\)")


def estimation_report(df: DataFrame) -> list[str]:
    """Estimated statistics per optimized-plan node (sizeInBytes, and —
    with CBO stats present — rowCount). The observability surface for
    estimator quality: compare against ``df.count()`` per stage."""
    plan = df._jdf.queryExecution().stringWithStats()
    return _EST_RE.findall(plan)


def actual_vs_estimated(df: DataFrame) -> dict[str, object]:
    """One-line estimator-quality probe for a DataFrame: optimizer row
    estimate of the root node (if available) vs the executed count."""
    ests = estimation_report(df)
    root = ests[0] if ests else None
    m = re.search(r"rowCount=(\d+)", root or "")
    return {
        "estimated_rows": int(m.group(1)) if m else None,
        "actual_rows": df.count(),
        "root_stats": root,
    }


# --- Catalyst-injected estimator plugin (JVM side) ---------------------
# plans/jvm/NdvCatalogExtension.scala (compiled offline, with the
# tfrecord_example source, into plans/jvm/sparkgraft-ext.jar by
# tools/build_jvm_extension.py) is one optimizer rule: it BROADCAST-hints every un-hinted join side whose
# parquet relations' footer row counts sum to at most its MaxRows.
# tests/test_jvm_extension.py proves the plan flip (SortMergeJoin ->
# BroadcastHashJoin) in a fresh JVM.


def extension_jar() -> str:
    """Path of the engine's committed JVM jar (see
    tools/build_jvm_extension.py)."""
    import os
    return os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "jvm", "sparkgraft-ext.jar")
