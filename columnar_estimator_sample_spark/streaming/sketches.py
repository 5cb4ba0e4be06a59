"""Streaming sketch maintenance: count-min counters and HyperLogLog
registers kept current by Structured Streaming aggregations.

The batch sketch tier (operators/sketches.py) argues its 100 TB story on
MERGEABILITY — CM counters merge by addition, HLL registers by MAX, so
map-side partials combine them for free. This module proves the same
property holds across TIME: the identical (row, bucket) -> SUM and
(column, register) -> MAX aggregations run in a streaming query, state
is exactly the sketch (1024 counters / 64 registers per column — bytes,
not data-sized), and after draining a file stream the sketch equals the
batch build bit for bit regardless of micro-batch boundaries or arrival
order. That is the production shape at 100 TB: the sketch catalog stays
current as crawl drops land, with no rescans of history.

Exactness: the hash family is the portable md5 one
(functions/hashing.py), so the streamed counters also remain
reproducible by the DuckDB oracle through their batch twins
(q_countmin_hh / q_hll_ndv are driver-checked; the parity test here
pins stream == batch on the same builders).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from columnar_estimator_sample_spark.functions.hashing import (
    MERSENNE_P, h64, minhash_params)
from columnar_estimator_sample_spark.operators.sketches import (
    CM_D, CM_W, HLL_M, HLL_RHO_CAP)

_A, _B = minhash_params(CM_D, seed=13)  # same family as q_countmin_hh


def cm_counters(docs: DataFrame) -> DataFrame:
    """(row, bucket) -> cnt count-min counters over the token stream.
    Works identically on a static frame or a streaming one: the whole
    sketch state is CM_D x CM_W counters, updated by a commutative SUM —
    micro-batch partials merge exactly like map-side partials do."""
    toks = (docs.select(F.explode(F.split("text", " ")).alias("tok"))
            .filter(F.length("tok") > 0)
            .withColumn("x", h64(F.col("tok")) % MERSENNE_P))
    rb = F.array(*[
        F.struct(F.lit(i).alias("row"),
                 (((F.lit(_A[i]) * F.col("x") + F.lit(_B[i]))
                   % MERSENNE_P) % CM_W).alias("bucket"))
        for i in range(CM_D)])
    return (toks.select(F.explode(rb).alias("rb"))
            .groupBy(F.col("rb.row").alias("row"),
                     F.col("rb.bucket").alias("bucket"))
            .agg(F.count(F.lit(1)).cast("long").alias("cnt")))


def hll_registers(docs: DataFrame) -> DataFrame:
    """(register j) -> max rank HLL registers over document text digests
    (the q_hll_ndv register rule, one tracked column). MAX is
    order-insensitive and idempotent — re-delivered files cannot corrupt
    the sketch, the property that makes HLL safe under at-least-once
    streaming delivery."""
    hx = docs.select(h64(F.concat(F.lit("hll_"), F.col("text"))).alias("h"))
    rho = F.when(F.expr(f"h div {HLL_M}") == 0, F.lit(55)).otherwise(
        F.lit(55) - F.length(F.expr(f"bin(h div {HLL_M})")))
    return (hx.select((F.col("h") % HLL_M).alias("j"),
                      F.least(rho, F.lit(HLL_RHO_CAP)).cast("long")
                      .alias("r"))
            .groupBy("j").agg(F.max("r").alias("m")))

