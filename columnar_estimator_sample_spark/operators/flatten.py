"""Array flattening / lateral ops — the reference's signature relational
construct, plus the trace-analytics MVP pipeline.

Reference semantics re-expressed here:
  * ``UNNEST(t.traceEvents) WITH OFFSET AS index``
    (/root/reference/README.md:191-192, notebook cell 7) ->
    ``F.posexplode`` (ordinal-preserving lateral flatten).
  * Nested-field projection + rename ``args.name AS arg_name``
    (README.md:179-189) -> dotted struct paths with aliases.
  * CTAS materialization (``--destination_table``) -> ``saveAsTable``.
  * Duration aggregation ``sum/avg/min/max(dur) GROUP BY arg_name
    ORDER BY 1 DESC LIMIT 20`` (README.md:210-222).

Scale: explode multiplies row counts — on 100 TB keep the projection BEFORE
the explode minimal (Catalyst pushes column pruning through generators) and
aggregate immediately after; partial aggregation keeps the shuffle at
O(distinct op names), not O(events).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from columnar_estimator_sample_spark.registry import register
from columnar_estimator_sample_spark.sources.tables import memo, table

# Checked-in NDJSON fixture shaped exactly like the reference's Chrome-trace
# documents (README.md:70-103): {"traceEvents": [{ph,cat,name,pid,tid,ts,
# dur,args:{name,op}}, ...]} one document per line.
TRACE_FIXTURE = os.path.join(os.path.dirname(os.path.dirname(
    os.path.dirname(os.path.abspath(__file__)))), "fixtures",
    "trace_events.ndjson")


def flatten_trace(spark: SparkSession,
                  path: str = TRACE_FIXTURE) -> DataFrame:
    """NDJSON trace docs -> one row per trace event, with ordinal.

    Mirrors notebook cell 7 / README.md:179-193: lateral flatten with
    offset + nested projection/rename. Schema is inferred
    (autodetect=True analogue, README.md:151-153) — once per session:
    schema inference runs a driver job per read and the trace file is
    immutable (the table-handle contract), so the raw handle is shared.
    """
    raw = memo(spark, ("trace", path), lambda: spark.read.json(path))
    ev = raw.select(F.posexplode("traceEvents").alias("index", "e"))
    return ev.select(
        "index",
        F.col("e.ph").alias("ph"),
        F.col("e.cat").alias("cat"),
        F.col("e.name").alias("name"),
        F.col("e.pid").alias("pid"),
        F.col("e.tid").alias("tid"),
        F.col("e.ts").alias("ts"),
        F.col("e.dur").alias("dur"),
        F.col("e.args.name").alias("arg_name"),
        F.col("e.args.op").alias("arg_op"),
    )


def trace_top_ops(flat: DataFrame, k: int = 20) -> DataFrame:
    """Top-k op names by total duration (README.md:210-222). ``dur`` is
    int64 so the sums are exact; avg is one double division."""
    return (
        flat.groupBy("arg_name")
        .agg(F.sum("dur").alias("total_dur"),
             (F.sum("dur").cast("double") / F.count("dur")).alias("avg_dur"),
             F.min("dur").alias("min_dur"),
             F.max("dur").alias("max_dur"))
        .orderBy(F.desc("total_dur"), F.asc("arg_name"))
        .limit(k)
    )


def materialize_trace_table(spark: SparkSession, path: str = TRACE_FIXTURE,
                            name: str = "traces_processed") -> DataFrame:
    """CTAS: flatten and persist as a table (the reference's
    ``--destination_table traces.tf115_processed``, README.md:177)."""
    flatten_trace(spark, path).write.mode("overwrite").saveAsTable(name)
    return spark.table(name)


@register(
    "q_trace_top_ops",
    oracle=f"""
    WITH flat AS (
        SELECT e.*
        FROM read_json_auto('{TRACE_FIXTURE}') t,
             UNNEST(t.traceEvents) AS u(e)
    )
    SELECT args.name AS arg_name,
           CAST(SUM(dur) AS BIGINT) AS total_dur,
           CAST(SUM(dur) AS DOUBLE) / COUNT(dur) AS avg_dur,
           MIN(dur) AS min_dur,
           MAX(dur) AS max_dur
    FROM flat
    GROUP BY 1
    ORDER BY total_dur DESC, arg_name
    LIMIT 20
    """,
)
def q_trace_top_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end trace analytics MVP: NDJSON ingest (schema inference) ->
    lateral flatten -> nested projection -> agg -> top-k."""
    return trace_top_ops(flatten_trace(spark))


@register(
    "q_posexplode_tokens",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
               unnest(string_split(text, ' ')) AS token
        FROM documents
    )
    SELECT token,
           COUNT(*) AS n_occurrences,
           MIN(pos) AS min_pos,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM toks
    GROUP BY token
    ORDER BY n_occurrences DESC, token
    LIMIT 30
    """,
)
def q_posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode (≡ UNNEST WITH OFFSET) over tokenized documents: token
    frequencies with first-position and document-frequency stats."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "token"))
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"),
             F.min("pos").alias("min_pos"),
             F.countDistinct("doc_id").alias("n_docs"))
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(30)
    )
