"""SparkSession construction for the engine.

The reference hand-tunes its pipeline with thread counts, prefetch and
sloppiness knobs (/root/reference/trainer.py:189-246); on Spark all of that
is runtime-level and comes from a handful of session configs. This module
centralizes them so tests, perfbench and the driver entry all run the same way.

Scale notes (100 TB / 1000-executor design intent):
  * AQE on -> runtime coalescing, skew-join splitting, dynamic broadcast.
  * CBO + histogram stats on -> join reordering once relations carry
    statistics. Path-based table handles carry no row counts, so nothing
    feeds CBO yet: the analogue of the reference's cardinality catalog
    (trainer.py:91-118), plans/stats.py, is not a Catalyst input.
  * Arrow on -> columnar exchange for every pandas-UDF operator.
  * UTC session timezone -> timestamp semantics identical to the DuckDB
    oracle and independent of host TZ.
  * shuffle partitions default to the local core count; on a real cluster
    AQE's coalescing makes the initial number non-critical.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

# AQE's coalescer floors post-shuffle partitions at 1 MB by default; on
# CPU-dense small-byte exchanges (candidate-pair verification: winnow /
# prefix-filter / cosine set-join) that floor serializes multi-second
# stages onto 1-4 cores. 64k keeps those spread across the executor (r14
# interleaved A/B: -0.9 to -1.4 s each at sf0.1, neutral elsewhere).
# Scale-safe: the floor only binds when partitions are sub-MB — at
# production sizes coalescing targets advisoryPartitionSizeInBytes
# regardless. ``registry`` re-asserts it before every un-pinned build.
MIN_PARTITION_SIZE = "64k"

# Per-process managed-table warehouse. ``spark.sql.warehouse.dir`` is a
# static conf read once at JVM creation; defaulting it to the cwd's
# ./spark-warehouse means an orphaned directory from a killed run makes
# the next run's ``saveAsTable`` fail with LOCATION_ALREADY_EXISTS (the
# fresh in-memory catalog has no table entry, so DROP TABLE IF EXISTS is
# a no-op and cannot clear the stale location). A tmpdir per process
# keeps every pytest/perfbench/driver run hermetic; override with
# SPARK_GRAFT_WAREHOUSE for a durable warehouse.
_WAREHOUSE_DIR: str | None = None


def _warehouse_dir() -> str:
    global _WAREHOUSE_DIR
    if _WAREHOUSE_DIR is None:
        _WAREHOUSE_DIR = os.environ.get("SPARK_GRAFT_WAREHOUSE") or \
            tempfile.mkdtemp(prefix="spark-graft-warehouse-")
    return _WAREHOUSE_DIR


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))


def get_spark(app_name: str = "columnar_estimator_sample_spark",
              parallelism: int | None = None,
              extra_conf: dict[str, str] | None = None,
              ndv_extension: bool = False) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``ndv_extension=True`` loads the Catalyst-injected estimator rule
    (plans/jvm/) so parquet footer row counts drive join build-side
    selection inside the optimizer itself. Opt-in
    because ``spark.sql.extensions`` is a static conf: it only takes
    effect when this call CREATES the JVM — on an already-running shared
    session it is ignored (Spark logs a warning), which is why the
    plan-flip proof lives in a fresh-JVM subprocess test
    (tests/test_jvm_extension.py)."""
    cores = parallelism or default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cores}]"))
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                MIN_PARTITION_SIZE)
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        .config("spark.sql.statistics.histogram.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.warehouse.dir", _warehouse_dir())
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    if ndv_extension:
        from columnar_estimator_sample_spark.plans.stats import (
            extension_jar,
        )
        jar = extension_jar()
        if os.path.exists(jar):
            builder = (
                builder.config("spark.jars", jar)
                .config("spark.driver.extraClassPath", jar)
                .config("spark.sql.extensions",
                        "sparkgraft.NdvCatalogExtension"))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
