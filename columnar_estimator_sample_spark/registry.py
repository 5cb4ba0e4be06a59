"""Query/operator registry.

The reference dispatches pipeline builders and entry functions *by name*
(`getattr(sys.modules[__name__], ARGS.dataset_function)`,
/root/reference/trainer.py:181-182,515). This module is the engine's
equivalent: a declarative registry mapping a query name to

  * a PySpark implementation ``(spark, sf_dir) -> DataFrame``, and
  * (where SQL-expressible) a DuckDB oracle SQL string over the same
    parquet tables, used by the driver's differential-correctness gate.

``__spark_entry__.py`` re-exports ``queries()`` / ``oracle_sql()`` from
here.
"""

from __future__ import annotations

import functools
import importlib
from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from columnar_estimator_sample_spark.session import MIN_PARTITION_SIZE

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}

# ---------------------------------------------------------------------------
# Per-query runtime-conf pins.
#
# The AQE coalescing floor (`coalescePartitions.minPartitionSize`) is a
# LOCAL-MODE width/latency tradeoff: it only binds on sub-MB post-shuffle
# partitions (at production sizes the coalescer targets
# advisoryPartitionSizeInBytes regardless), and the r15 suite-wide
# interleaved A/B (1m vs 64k, all 68 headline queries, one warm JVM)
# measured it BIMODAL — the CPU-dense set-similarity/verification family
# needs the 64k floor (winnow −0.98 s, prefix_filter −0.69, cosine_setjoin
# −0.64, embed_whiten −0.71, minhash_lsh −0.48, contamination_check −0.47,
# token_budget_pack −0.30), while many-small-exchange iteration/scan
# queries pay a per-task latency tax for the extra width
# (link_prediction +1.06 s, dsir_bigram +0.46, q01 +0.31, dsir_selection
# +0.29, lpa/pagerank +0.25). No single constant is right, so the floor
# stays 64k session-wide (session.MIN_PARTITION_SIZE) and the measured
# losers pin the 1 MB default back per query. Pins are applied at query
# BUILD time via the registration wrapper below (runtime SQL confs are
# read at execution, and every harness — perfbench, oracle gates, driver —
# builds then immediately drains, so the pinned value governs the drain).
# Perf-only: no pin can change results.
_FLOOR_KEY = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
# The 1m pins below are the queries where BOTH r15 interleaved runs
# (r14-close tree and post-rewrite tree) measured the 64k floor net-
# negative by >= ~0.07 s at sf0.1 (full tables in SCALE.md §r15).
# q_link_prediction / q_pagerank / q_copurchase were floor-negative on
# the r14 tree but their r15 exchange-fusion rewrites flipped them
# floor-positive — rewrites first, conf pins only for what remains.
_QUERY_CONF_PINS: dict[str, dict[str, str]] = {
    name: {_FLOOR_KEY: "1m"} for name in (
        "q01_pricing_summary",      # +0.31 / +0.10
        "q_posexplode_tokens",      # +0.15 / +0.10
        "q_funnel_exclusion",       # +0.07 / +0.09
        "q_lpa_communities",        # +0.25 / +0.22 (post-rewrite)
        "q_media_audio_neardup",    # +0.18 / +0.25
        "q_dsir_bigram",            # +0.46 / +0.49
        "q_dsir_selection",         # +0.29 / +0.19
        "q_dedup_embedding_lsh",    # +0.17 / +0.07
        "q_mmr_rerank_scaled",      # +0.12 / +0.07
        "q_domain_mixture",         # +0.05 / +0.32 (post-rewrite)
    )
}


def _default_confs() -> dict[str, str]:
    """Session-default values re-asserted before every un-pinned query so
    a pinned build can never leak its conf into the next query."""
    return {_FLOOR_KEY: MIN_PARTITION_SIZE}


def _with_conf_pins(name: str, fn: QueryFn) -> QueryFn:
    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        confs = dict(_default_confs())
        confs.update(_QUERY_CONF_PINS.get(name, {}))
        for k, v in confs.items():
            spark.conf.set(k, v)
        return fn(spark, sf_dir)
    return wrapped

# Modules that register queries on import. Kept explicit so a broken
# optional module can't silently drop the whole registry.
_OPERATOR_MODULES = [
    "columnar_estimator_sample_spark.operators.relational",
    "columnar_estimator_sample_spark.operators.relational2",
    "columnar_estimator_sample_spark.operators.relational3",
    "columnar_estimator_sample_spark.operators.relational4",
    "columnar_estimator_sample_spark.operators.flatten",
    "columnar_estimator_sample_spark.operators.events",
    "columnar_estimator_sample_spark.operators.dedup",
    "columnar_estimator_sample_spark.operators.graph",
    "columnar_estimator_sample_spark.operators.pipeline",
    "columnar_estimator_sample_spark.operators.merge",
    "columnar_estimator_sample_spark.operators.similarity",
    "columnar_estimator_sample_spark.operators.textstats",
    "columnar_estimator_sample_spark.operators.ranking",
    "columnar_estimator_sample_spark.operators.timeseries",
    "columnar_estimator_sample_spark.operators.quality",
    "columnar_estimator_sample_spark.operators.basket",
    "columnar_estimator_sample_spark.operators.sketches",
    "columnar_estimator_sample_spark.operators.corpus",
    "columnar_estimator_sample_spark.operators.vq",
    "columnar_estimator_sample_spark.operators.multimodal",
    "columnar_estimator_sample_spark.operators.partitioning",
    "columnar_estimator_sample_spark.operators.features",
    "columnar_estimator_sample_spark.plans.stats_queries",
    "columnar_estimator_sample_spark.sources.tfrecord",
    "columnar_estimator_sample_spark.operators.geo",
    "columnar_estimator_sample_spark.operators.entity",
    "columnar_estimator_sample_spark.streaming.windows",
    "columnar_estimator_sample_spark.streaming.stateful",
    "columnar_estimator_sample_spark.streaming.corpus",
]

_loaded = False

def register(name: str, oracle: Optional[str] = None):
    """Decorator: register a query under ``name`` with an optional DuckDB
    oracle SQL twin. Column aliases MUST match between the two."""
    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        _QUERIES[name] = _with_conf_pins(name, fn)
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn
    return deco


def _load() -> None:
    global _loaded
    if _loaded:
        return
    # Mark loaded only after every module imported: a failing import must
    # propagate on EVERY call, not silently yield a partial registry on the
    # second one.
    for mod in _OPERATOR_MODULES:
        importlib.import_module(mod)
    _loaded = True


def queries() -> dict[str, QueryFn]:
    """Every registered query, in registration order."""
    _load()
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    """Oracle SQL of every query that has one, in registration order."""
    _load()
    return dict(_ORACLES)
