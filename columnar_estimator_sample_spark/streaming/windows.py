"""Structured Streaming tier over the events stream.

The reference is batch-only (SURVEY.md §2.8); its closest streaming
analogue is the append-only trace-event log with monotonically increasing
``ts`` (/root/reference/README.md:93,107). This module is the green-field
streaming surface a production engine needs, built so that every streaming
aggregation has a batch twin in operators/events.py whose results it must
match (tested with the ``availableNow`` trigger, which drains the source
deterministically and terminates).

Scale notes:
  * watermarks bound state: 1 day of lateness over (window, event_type)
    keys is O(types · days) state per executor — trivial; per-user session
    state is O(active users), the standard sizing concern.
  * ``foreachBatch`` sinks reuse the batch writers (sources/io.py), giving
    exactly-once via checkpoint + idempotent overwrite per epoch.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from columnar_estimator_sample_spark.functions.exact import dsum, sql_dsum
from columnar_estimator_sample_spark.operators.events import US_PER_DAY
from columnar_estimator_sample_spark.sources import tables
from columnar_estimator_sample_spark.registry import register

SESSION_GAP_US = 30 * 60 * 1_000_000  # session_window('30 minutes')
SLIDE_US = 30 * 60 * 1_000_000  # q_stream_sliding_value's 30 min slide


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a file stream (one parquet file = one
    micro-batch unit, decoded by :func:`tables.table_stream`), with
    ``ts`` restated from integer ``us`` as a timestamp for watermarking.

    Replay caveat: the gen_scale benchdata dirs replay N key-shifted
    copies of the SAME time range as successive micro-batches, so the
    watermarked operators (windows, sessions, join) legitimately drop
    later copies as late data — that is watermark semantics under an
    adversarial replay order, not a bug. The watermark-free operators
    (stateful totals, key-disjoint dedup) stay exact there (parity-
    checked at sf1, 10 micro-batches); the driver's single-file layout
    drains everything in one batch, so every oracle comparison is
    exact."""
    return (tables.table_stream(spark, sf_dir, "events")
            .withColumn("ts", F.timestamp_micros(F.col("us"))))


def daily_counts_stream(events: DataFrame) -> DataFrame:
    """Watermarked tumbling daily aggregation — the streaming twin of
    q_time_buckets. Late events beyond the watermark are dropped; state
    per (day, event_type) window is evicted once the watermark passes."""
    return (
        events.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             dsum(F.col("value"), "total_value", 6))
        .select(
            F.date_add(F.lit("1970-01-01").cast("date"),
                       F.expr(f"CAST(unix_micros(w.start) div {US_PER_DAY}"
                              f" AS INT)")).cast("string").alias("day"),
            "event_type", "n_events", "total_value")
    )


def sliding_value_stream(events: DataFrame) -> DataFrame:
    """Sliding-window aggregation (1 hour windows sliding by 30
    minutes: each event lands in 2 overlapping windows)."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             dsum(F.col("value"), "total_value", 6))
        .select(F.col("w.start").cast("long").alias("win_start_s"),
                "n_events", "total_value")
    )


def session_stream(events: DataFrame) -> DataFrame:
    """Native session windows (``session_window``): the streaming
    equivalent of the batch gaps-and-islands sessionization
    (operators/events.py::q_sessionize). State = one open window per
    active user, merged/closed by the watermark."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"),
                 F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.min("us").alias("start_us"),
             (F.max("us") - F.min("us")).alias("duration_us"))
        .select("user_id", "n_events", "start_us", "duration_us")
    )


def dedup_stream(events: DataFrame) -> DataFrame:
    """Streaming exact dedup on event_id within the watermark horizon —
    the streaming twin of the batch hash-dedup. State is the id set inside
    the watermark window."""
    return (events.withWatermark("ts", "1 day")
            .dropDuplicates(["event_id"]))


def stream_stream_join(left: DataFrame, right: DataFrame,
                       within: str = "10 minutes") -> DataFrame:
    """Watermarked stream-stream inner join: pair each left event with
    right events of the SAME user within ``within`` AFTER it — the
    view→click attribution shape.

    Both sides are watermarked so the join state is bounded: a buffered
    left row can be evicted once the right watermark passes its
    ``ts + within`` horizon (Spark derives the eviction bound from the
    time-range join condition — without it, stream-stream join state
    grows forever). Equi-key user_id keeps the join hash-partitioned;
    the range predicate only gates matches inside a partition.
    """
    lw = (left.withWatermark("ts", "1 hour")
          .select(F.col("user_id").alias("l_user"),
                  F.col("event_id").alias("l_id"),
                  F.col("ts").alias("l_ts"),
                  F.col("us").alias("l_us")))
    rw = (right.withWatermark("ts", "1 hour")
          .select(F.col("user_id").alias("r_user"),
                  F.col("event_id").alias("r_id"),
                  F.col("ts").alias("r_ts"),
                  F.col("us").alias("r_us")))
    return lw.join(
        rw,
        F.expr(f"l_user = r_user AND r_ts >= l_ts"
               f" AND r_ts <= l_ts + interval {within}"),
        "inner",
    ).select("l_user", "l_id", "r_id", (F.col("r_us") - F.col("l_us"))
             .alias("lag_us"))


def drain(writer: DataStreamWriter, checkpoint_dir: str | None = None
          ) -> None:
    """Run ``writer`` to completion with the availableNow trigger: every
    file present at start is drained in deterministic micro-batches and
    the query terminates. ``checkpoint_dir`` persists progress across
    calls (exactly-once restarts); without one a temporary checkpoint is
    used and removed afterwards — the sink holds the rows, the
    checkpoint is only needed while the stream runs, so don't leak a
    /tmp dir per call."""
    import tempfile

    if checkpoint_dir is None:
        with tempfile.TemporaryDirectory(
                prefix="ckpt_stream_", ignore_cleanup_errors=True) as ckpt:
            return drain(writer, ckpt)
    (writer.option("checkpointLocation", checkpoint_dir)
     .trigger(availableNow=True)
     .start()
     .awaitTermination())


_SINK_SEQ = itertools.count(1)


def _sink_name(prefix: str) -> str:
    """A memory-sink query name unique within the process: concurrent
    clients running the same streaming query must never share a sink
    (``next`` on an ``itertools.count`` is atomic)."""
    return f"{prefix}_{next(_SINK_SEQ)}"


def run_to_completion(stream_df: DataFrame, mode: str = "complete",
                      checkpoint_dir: str | None = None) -> DataFrame:
    """:func:`drain` the stream into a fresh memory sink table and
    return that table — how the registered queries and the stream/batch
    parity tests run a stream. ``mode``: "complete" for aggregations,
    "append" for row streams (dedup, joins), "update" for running
    state."""
    name = _sink_name("stream")
    drain(stream_df.writeStream.format("memory").queryName(name)
          .outputMode(mode), checkpoint_dir)
    return stream_df.sparkSession.table(name)


# --------------------------------------------------------------------------
# Registered streaming query (round 5): the first streaming entry in the
# driver registry, and it carries a FULL SQL oracle — because the stream
# is proven equal to its batch twin, the batch twin's oracle verifies the
# STREAMING execution path end to end (file-stream source, watermark,
# windowed state store, availableNow drain, memory sink).
# --------------------------------------------------------------------------

@register(
    "q_stream_daily_counts",
    oracle=f"""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type,
           COUNT(*) AS n_events,
           {sql_dsum("value", "total_value", 6)}
    FROM events
    GROUP BY 1, 2
    ORDER BY day, event_type
    """,
)
def q_stream_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming daily windowed aggregation, oracle-checked
    against DuckDB directly: events as a file stream -> 1-day watermark
    -> tumbling daily window -> exact decimal sum, drained
    deterministically with availableNow into a memory sink. Output is
    the same (day, event_type, n_events, total_value) frame as the batch
    twin q_time_buckets, so the identical oracle certifies the whole
    streaming path, not just stream==batch parity.

    Scale: watermark bounds window state to O(types x in-flight days);
    the memory sink is the test/driver harness — production uses
    foreachBatch into the partitioned parquet writer (sources/io.py)
    with exactly-once via checkpoint + idempotent epoch overwrite."""
    return (run_to_completion(daily_counts_stream(events_stream(spark,
                                                                sf_dir)))
            .orderBy("day", "event_type"))


@register(
    "q_stream_sessions",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS us FROM events
    ), flagged AS (
        SELECT user_id, event_id, us,
               CASE WHEN us - LAG(us) OVER w >= {SESSION_GAP_US}
                      OR LAG(us) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_s
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ), sess AS (
        SELECT user_id, us,
               CAST(SUM(new_s) OVER (PARTITION BY user_id
                                     ORDER BY us, event_id
                                     ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS session_id
        FROM flagged
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(us) AS start_us,
           MAX(us) - MIN(us) AS duration_us
    FROM sess
    GROUP BY user_id, session_id
    ORDER BY user_id, start_us
    """,
)
def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming SESSION windows (the genuinely stateful operator:
    one open merge-able window per active user), oracle-checked against
    DuckDB's gaps-and-islands replay. Boundary semantics follow Spark's
    ``session_window``: a session's window is [first, last + gap), so an
    event arriving exactly ``gap`` after the last one starts a NEW
    session — the oracle flags new sessions with ``>=`` (the batch
    q_sessionize keeps its ``>`` convention; both agree everywhere the
    fixture has no exact-gap tie).

    Scale: state is O(active users) open windows, merged and closed by
    the watermark; the memory sink is the harness, production drains via
    foreachBatch."""
    return (run_to_completion(session_stream(events_stream(spark, sf_dir)))
            .orderBy("user_id", "start_us"))


@register(
    "q_stream_sliding_value",
    oracle=f"""
    WITH e AS (
        SELECT epoch_us(ts) AS us, value FROM events
    ), w AS (
        SELECT (us // {SLIDE_US}) * {SLIDE_US} AS ws, value FROM e
        UNION ALL
        SELECT (us // {SLIDE_US}) * {SLIDE_US} - {SLIDE_US} AS ws,
               value FROM e
    )
    SELECT CAST(ws // 1000000 AS BIGINT) AS win_start_s,
           COUNT(*) AS n_events,
           {sql_dsum("value", "total_value", 6)}
    FROM w
    GROUP BY 1
    ORDER BY win_start_s
    """,
)
def q_stream_sliding_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked SLIDING-window aggregation (1 h window / 30 min slide
    — each event lands in exactly window/slide = 2 overlapping windows),
    drained availableNow and oracle-checked against DuckDB's explicit
    two-slot replay: Spark assigns event t to epoch-aligned starts
    {floor(t/30min)·30min, that − 30min}, which the oracle reproduces
    with a UNION ALL of the two slot expressions. Completes the §2.8
    window matrix (tumbling, sliding, session).

    Scale: state is O(in-flight windows) = 2× the tumbling count; the
    decimal sum is the same exact-arithmetic dsum as the batch tier."""
    return (run_to_completion(sliding_value_stream(events_stream(spark,
                                                                 sf_dir)))
            .orderBy("win_start_s"))


@register(
    "q_stream_attribution",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        FROM events
    )
    SELECT v.user_id AS user_id,
           v.event_id AS view_id,
           c.event_id AS click_id,
           c.us - v.us AS lag_us
    FROM e v
    JOIN e c ON v.user_id = c.user_id
            AND c.us >= v.us AND c.us <= v.us + 600000000
    WHERE v.event_type = 'view' AND c.event_type = 'click'
    ORDER BY user_id, view_id, click_id
    """,
)
def q_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked STREAM-STREAM inner join (the fourth streaming
    operator class after windows, sessions, and dedup state): attribute
    each click to the same user's views within the preceding 10 minutes.
    The joined pair SET is deterministic (every qualifying pair is
    emitted exactly once regardless of arrival interleaving), so the
    batch self-join oracle certifies the whole path: two file streams,
    per-side watermarks, the time-range condition Spark derives the
    state-eviction bound from, availableNow drain, append sink.

    Scale: join state is bounded by the watermark + range horizon —
    a buffered view is dropped once the click watermark passes
    ``view.ts + 10 min``; the equi-key (user_id) keeps the join
    hash-partitioned, the range predicate only gates within-partition
    matches."""
    ev = events_stream(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view")
    clicks = ev.filter(F.col("event_type") == "click")
    joined = stream_stream_join(views, clicks, within="10 minutes")
    res = (run_to_completion(joined, "append")
           .select(F.col("l_user").alias("user_id"),
                   F.col("l_id").alias("view_id"),
                   F.col("r_id").alias("click_id"), "lag_us")
           .orderBy("user_id", "view_id", "click_id"))
    return spark.createDataFrame(
        res.collect(),
        "user_id long, view_id long, click_id long, lag_us long")


@register(
    "q_stream_dedup_census",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_stream_dedup_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact deduplication (watermarked ``dropDuplicates``
    state store) drained to a distinct-key census, oracle-checked
    against a batch COUNT DISTINCT.

    The stream projects events to their (user_id, event_type) key BEFORE
    dedup so the appended row set is exactly the distinct key set — which
    arrival order won each race doesn't matter, making the nondeterminism
    of "first seen" invisible to the oracle. The census then aggregates
    the drained sink per event_type (distinct users per type).

    Semantics note (the operator's honest 100 TB contract): dedup state
    lives inside the 1-day watermark horizon — duplicates farther apart
    than the horizon would re-emit, which is the standard bounded-state
    trade every streaming dedup makes. The fixture's duplicate keys all
    fall inside one micro-batch (one file), so the drained set is exact
    and the batch oracle certifies the whole path: file-stream source,
    key projection, dedup state store, availableNow drain, append sink.

    Scale: state is O(distinct in-horizon keys); production swaps the
    memory sink for foreachBatch into the idempotent parquet writer."""
    keys = (events_stream(spark, sf_dir)
            .select("user_id", "event_type", "ts")
            .withWatermark("ts", "1 day")
            .dropDuplicates(["user_id", "event_type"])
            .select("user_id", "event_type"))
    # the sink is materialized (memory sink holds rows); the census
    # below is a plain batch aggregate over the drained key set
    res = (run_to_completion(keys, "append").groupBy("event_type")
           .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
           .orderBy("event_type"))
    return spark.createDataFrame(res.collect(),
                                 "event_type string, n_users long")


# ---------------------------------------------------------------------------
# Production file sink: foreachBatch with exactly-once epoch overwrite
# ---------------------------------------------------------------------------

#: processing-time trigger of a live landing: the longest a landing
#: call waits for the next trigger to list its source
LIVE_TRIGGER = "20 milliseconds"


def foreach_batch_parquet_sink(stream_df: DataFrame, out_dir: str,
                               checkpoint_dir: str | None,
                               fail_on_batch: "int | None" = None) -> None:
    """The production drain every streaming docstring in this module
    refers to: ``foreachBatch`` into a parquet table partitioned by the
    micro-batch epoch, EXACTLY-ONCE under failure by construction —

      * the checkpoint tracks which batch ids are committed; after a
        crash the stream REPLAYS the uncommitted batch with the same
        batch_id and the same rows (file sources are replayable);
      * each batch writes ``epoch=batch_id`` with dynamic partition
        overwrite, so a replayed batch REPLACES its own partial output
        instead of appending a duplicate — idempotent per epoch, and
        readers never see a torn epoch partition mix of two attempts.

    With a ``checkpoint_dir`` the landing is LIVE: the first call starts
    one query on a :data:`LIVE_TRIGGER` processing-time trigger, which
    ``sources.tables.live_query`` keeps running, and every call —
    that one and each later one on the same checkpoint — returns once
    everything its source lists has landed. A checkpoint belongs to one
    stream, so later calls land through the live query whatever frame
    they pass; a call with another ``out_dir`` or ``fail_on_batch``
    restarts it from the checkpoint. The query stops at
    ``reset_handles()``, or at the next landing call once its
    checkpoint directory is gone. A query that died is replaced by the
    next call, which resumes from the checkpoint; a call whose query is
    not active when it returns raises. Without a ``checkpoint_dir`` the
    call is a one-shot :func:`drain` on a temporary checkpoint.

    ``fail_on_batch`` injects a crash AFTER the batch's files are
    written but BEFORE foreachBatch returns (i.e. before the epoch
    commits) — the worst-case window the overwrite exists for; tests
    restart from the same checkpoint and must see no loss and no dupes.

    Scale: this is the standard Spark lakehouse landing pattern; the
    per-epoch directory doubles as the compaction unit
    (operators/partitioning.q_compaction_plan) and the write-audit-
    publish staging root (sources/io.py)."""
    fired = {"armed": fail_on_batch is not None}

    def write_batch(df: DataFrame, batch_id: int) -> None:
        (df.withColumn("epoch", F.lit(int(batch_id)))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("epoch")
         .parquet(out_dir))
        if fired["armed"] and batch_id == fail_on_batch:
            fired["armed"] = False
            raise RuntimeError(
                f"injected crash after writing epoch {batch_id}")

    if checkpoint_dir is None:
        drain(stream_df.writeStream.foreachBatch(write_batch))
        return
    query = tables.live_query(
        stream_df.sparkSession, checkpoint_dir, (out_dir, fail_on_batch),
        lambda: stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=LIVE_TRIGGER).start())
    # A trigger that listed the source before this call's files existed
    # can set the no-new-data flag after the first wait cleared it, and
    # so end that wait early. The second wait ends only on a trigger
    # that started after the first returned.
    query.processAllAvailable()
    query.processAllAvailable()
    if not query.isActive:
        raise RuntimeError(
            f"live landing on {checkpoint_dir} stopped before its "
            f"source was drained: {query.exception()}")


@register(
    "q_stream_landing_census",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct_ids,
           {sql_dsum("value", "total_value", 6)}
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_stream_landing_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end drive of the production landing path: the events
    stream drains through :func:`foreach_batch_parquet_sink` (epoch-
    partitioned parquet, exactly-once overwrite), the LANDED table is
    read back and censused per event type — so the oracle (a plain batch
    GROUP BY over the source) certifies sink completeness: every source
    row landed exactly once, through a real checkpointed foreachBatch
    drain, not a memory sink.

    Scale: the sink is the standard lakehouse landing pattern (see
    foreach_batch_parquet_sink); the census is one map-side-partial
    aggregate over the landed files."""
    import tempfile

    with tempfile.TemporaryDirectory(prefix="land_stream_",
                                     ignore_cleanup_errors=True) as out:
        ev = events_stream(spark, sf_dir).select(
            "event_id", "event_type", "value")
        foreach_batch_parquet_sink(ev, out, None)
        landed = spark.read.parquet(out)
        res = (landed.groupBy("event_type")
               .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                    F.count_distinct("event_id").cast("long")
                    .alias("n_distinct_ids"),
                    dsum(F.col("value"), "total_value", 6))
               .orderBy("event_type"))
        # materialize before the landing dir is removed
        rows = res.collect()
        out_schema = ("event_type string, n_events long, "
                      "n_distinct_ids long, total_value double")
        return spark.createDataFrame(rows, out_schema)


