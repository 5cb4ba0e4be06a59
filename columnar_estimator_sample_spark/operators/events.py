"""Event-log analytics: JSON extraction, time bucketing, sessionization.

The reference's analytics tier ingests JSON event documents and aggregates
durations over them (/root/reference/README.md:145-222, notebook cells
3-13); its event stream carries raw int64 timestamps (README.md:93,107).
This module is the batch side of that tier over the driver's ``events``
table (the streaming twin lives in ``streaming/``).

Timestamp design: ``events.ts`` is nanosecond-precision; the loader
(sources/tables.py::events_table) surfaces it as integer epoch
microseconds (``us``). Every computation here is integer arithmetic on
``us`` — exact, and invariant to whatever session timezone the driver's
SparkSession happens to use. Calendar bucketing derives a DateType (which
is timezone-free) from the epoch day number.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from columnar_estimator_sample_spark.functions.exact import davg, dsum, sql_davg, sql_dsum
from columnar_estimator_sample_spark.registry import register
from columnar_estimator_sample_spark.sources.tables import table

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap
US_PER_DAY = 86_400_000_000
NEARBY_US = 60 * 1_000_000            # co-activity radius (±60 s)


@register(
    "q_json_extract",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           {sql_davg("value", "avg_value", 6)},
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the JSON ``props`` payload (schema-on-read, the reference's
    autodetect-JSON pattern README.md:151-163) and aggregate per type."""
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(k).alias("sum_k"),
            davg(F.col("value"), "avg_value", 6),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .orderBy("event_type")
    )


@register(
    "q_time_buckets",
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
def q_time_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling daily windows — the batch expression of the streaming
    windowed aggregation (streaming twin in streaming/). The bucket is the
    epoch day number, restated as a (timezone-free) date string.

    Scale: bucketing is a projection + hash agg; no extra shuffle."""
    ev = table(spark, sf_dir, "events")
    day = F.date_add(
        F.lit("1970-01-01").cast("date"),
        F.expr(f"CAST(us div {US_PER_DAY} AS INT)")).cast("string")
    return (
        ev.groupBy(day.alias("day"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             dsum(F.col("value"), "total_value", 6))
        .orderBy("day", "event_type")
    )


@register(
    "q_sessionize",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS us FROM events
    ), flagged AS (
        SELECT user_id, event_id, us,
               CASE WHEN us - LAG(us) OVER w > {SESSION_GAP_US}
                      OR LAG(us) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_s
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ), sess AS (
        SELECT user_id, us,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events,
           MIN(us) AS start_us,
           MAX(us) - MIN(us) AS duration_us
    FROM sess
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (gaps-and-islands): a new session starts after 30
    minutes of inactivity. Batch twin of streaming session windows.

    Scale: one shuffle on user_id; both window passes share the same
    partitioning so Catalyst plans a single exchange. Skewed users would be
    handled by AQE or a two-level (user_id, coarse-time) pre-split.
    """
    ev = table(spark, sf_dir, "events").select("user_id", "event_id", "us")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    flagged = ev.select(
        "user_id", "us", "event_id",
        F.when(
            (F.col("us") - F.lag("us").over(w) > SESSION_GAP_US)
            | F.lag("us").over(w).isNull(), 1).otherwise(0).alias("new_s"),
    )
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = flagged.select(
        "user_id", "us", F.sum("new_s").over(wc).alias("session_id"))
    return (
        sess.groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.min("us").alias("start_us"),
             (F.max("us") - F.min("us")).alias("duration_us"))
        .orderBy("user_id", "session_id")
    )


@register(
    "q_range_join_binned",
    oracle=f"""
    SELECT l.event_type,
           COUNT(*) AS n_events,
           CAST(SUM(l.n_nearby) AS BIGINT) AS total_nearby,
           MAX(l.n_nearby) AS max_nearby
    FROM (
        SELECT a.event_id, a.event_type,
               COUNT(b.event_id) AS n_nearby
        FROM events a
        LEFT JOIN events b
          ON b.user_id <> a.user_id
         AND abs(epoch_us(b.ts) - epoch_us(a.ts)) <= {NEARBY_US}
        GROUP BY a.event_id, a.event_type
    ) l
    GROUP BY l.event_type
    ORDER BY l.event_type
    """,
)
def q_range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range interval join, binned: for every event, count co-activity
    (events of OTHER users within ±60 s), summarized per event type.

    Scale design — the standard banded range-join rewrite: a naive
    |Δt| <= r predicate forces a cartesian/BNL join (O(N²) comparisons).
    Instead each probe row joins only its own 60 s time bin and the two
    neighbors: the build side is replicated 3× onto (bin-1, bin, bin+1)
    and the join becomes an EQUI-join on bin — hash-partitionable,
    shuffle O(3N), comparisons only within ±2 bins of true candidates.
    The DuckDB oracle states the same semantics as the raw inequality
    join (its IEJoin handles it at test scale), so the rewrite is
    verified equivalent, not assumed.
    """
    ev = table(spark, sf_dir, "events").select("event_id", "user_id",
                                               "event_type", "us")
    probe = ev.select("event_id", "event_type", "user_id", "us",
                      F.expr(f"us div {NEARBY_US}").alias("bin"))
    build = (ev.select(F.col("event_id").alias("b_id"),
                       F.col("user_id").alias("b_user"),
                       F.col("us").alias("b_us"),
                       F.explode(F.array(
                           F.expr(f"us div {NEARBY_US} - 1"),
                           F.expr(f"us div {NEARBY_US}"),
                           F.expr(f"us div {NEARBY_US} + 1"))).alias("bin")))
    nearby = (
        probe.join(build,
                   (probe.bin == build.bin)
                   & (F.col("b_user") != F.col("user_id"))
                   & (F.abs(F.col("b_us") - F.col("us")) <= NEARBY_US),
                   "left")
        .groupBy("event_id", "event_type")
        .agg(F.count("b_id").alias("n_nearby"))
    )
    return (
        nearby.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum("n_nearby").alias("total_nearby"),
             F.max("n_nearby").alias("max_nearby"))
        .orderBy("event_type")
    )


# Funnel stage order: each stage's first hit must strictly follow the
# previous stage's first hit for the same user.
FUNNEL = ["view", "click", "purchase"]

@register(
    "q_funnel",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(epoch_us(ts)) AS v_us FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
        SELECT e.user_id, MIN(epoch_us(e.ts)) AS c_us
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.v_us
        GROUP BY e.user_id
    ), p AS (
        SELECT e.user_id, MIN(epoch_us(e.ts)) AS p_us
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.c_us
        GROUP BY e.user_id
    )
    SELECT 1 AS stage, 'view' AS event_type, COUNT(*) AS n_users FROM v
    UNION ALL
    SELECT 2, 'click', COUNT(*) FROM c
    UNION ALL
    SELECT 3, 'purchase', COUNT(*) FROM p
    ORDER BY stage
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view -> click -> purchase: a user counts
    at stage k only if their first stage-k event strictly follows their
    first stage-(k-1) event. The classic product-analytics query.

    Scale: each stage is a per-user MIN aggregate joined to the previous
    stage's per-user frame — every shuffle is keyed on user_id, so
    Catalyst reuses one hash partitioning across the whole chain, and the
    per-stage frames shrink monotonically. All timestamps are integer µs
    (timezone-free, exact)."""
    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "us")
    stages = []
    prev = None
    for k, et in enumerate(FUNNEL, start=1):
        cur = ev.filter(F.col("event_type") == et)
        if prev is not None:
            cur = (cur.join(prev, "user_id")
                   .filter(F.col("us") > F.col("prev_us")))
        cur = cur.groupBy("user_id").agg(F.min("us").alias("prev_us"))
        stages.append(cur.agg(
            F.lit(k).alias("stage"), F.lit(et).alias("event_type"),
            F.count("*").alias("n_users")))
        prev = cur
    out = stages[0]
    for s in stages[1:]:
        out = out.unionAll(s)
    return out.orderBy("stage")


@register(
    "q_cohort_retention",
    oracle=f"""
    WITH d AS (
        SELECT user_id, epoch_us(ts) // {US_PER_DAY} AS day FROM events
    ), cohort AS (
        SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY user_id
    ), activity AS (
        SELECT DISTINCT user_id, day FROM d
    )
    SELECT c.cohort_day, a.day - c.cohort_day AS day_offset,
           COUNT(DISTINCT a.user_id) AS n_users
    FROM activity a JOIN cohort c ON a.user_id = c.user_id
    WHERE a.day - c.cohort_day <= 7
    GROUP BY c.cohort_day, day_offset
    ORDER BY c.cohort_day, day_offset
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-activity day,
    counted on each subsequent activity day (offsets 0..7) — the standard
    growth-analytics rollup.

    Scale: cohort assignment and the distinct-activity frame are both
    user_id-keyed aggregates over the same scan; the join is user_id to
    user_id (co-partitioned), and the final aggregate's key space is
    bounded by days × offsets, not data size. Day arithmetic is integer
    µs // day — timezone-free in both engines."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.expr(f"us div {US_PER_DAY}").alias("day"))
    cohort = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    activity = ev.distinct()
    return (
        activity.join(cohort, "user_id")
        .withColumn("day_offset", F.col("day") - F.col("cohort_day"))
        .filter(F.col("day_offset") <= 7)
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


@register(
    "q_scd2_history",
    oracle="""
    WITH upd AS (
        SELECT user_id, epoch_us(ts) AS us, event_id, value
        FROM events WHERE event_type = 'signup'
    )
    SELECT user_id, value AS attr_value, us AS valid_from_us,
           COALESCE(LEAD(us) OVER (PARTITION BY user_id
                                   ORDER BY us, event_id),
                    9223372036854775807) AS valid_to_us,
           CASE WHEN LEAD(us) OVER (PARTITION BY user_id
                                    ORDER BY us, event_id) IS NULL
                THEN 1 ELSE 0 END AS is_current
    FROM upd
    ORDER BY user_id, valid_from_us, event_id
    """,
)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build: turn an update stream
    (signup events carrying an attribute value) into validity intervals
    [valid_from, valid_to) per user with an is_current flag — how a
    warehouse derives dimension history from CDC feeds.

    Scale: one user_id-keyed window (LEAD) over the filtered update
    stream; the filter prunes at the scan, the single exchange is the
    window's, and the output is written without any further wide step.
    The open interval's sentinel is int64 max — exact in both engines."""
    ev = table(spark, sf_dir, "events")
    upd = (ev.filter(F.col("event_type") == "signup")
           .select("user_id", "us", "event_id", "value"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    nxt = F.lead("us").over(w)
    return (
        upd.select(
            "user_id", F.col("value").alias("attr_value"),
            F.col("us").alias("valid_from_us"),
            F.coalesce(nxt, F.lit(9223372036854775807))
            .alias("valid_to_us"),
            F.when(nxt.isNull(), 1).otherwise(0).alias("is_current"),
            "event_id")
        .orderBy("user_id", "valid_from_us", "event_id")
        .drop("event_id")
    )


# ---------------------------------------------------------------------------
# Rate-anomaly detection, attribution, point-in-interval enrichment
# ---------------------------------------------------------------------------

ANOM_HI_PM = 1400   # flag days at >= 1.4x the trailing average
ANOM_LO_PM = 600    # ... or <= 0.6x


@register(
    "q_rate_anomaly",
    oracle=f"""
    WITH daily AS (
        SELECT epoch_us(ts) // {US_PER_DAY} AS day_num, event_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ), trailed AS (
        SELECT day_num, event_type, n,
               SUM(n)   OVER w AS s3,
               COUNT(n) OVER w AS k3
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day_num
                     ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
    )
    SELECT CAST(DATE '1970-01-01' + CAST(day_num AS INT) AS VARCHAR) AS day,
           event_type, n,
           CAST((1000 * n * k3) // s3 AS BIGINT) AS ratio_pm
    FROM trailed
    WHERE k3 > 0
      AND ((1000 * n * k3) // s3 >= {ANOM_HI_PM}
           OR (1000 * n * k3) // s3 <= {ANOM_LO_PM})
    ORDER BY day, event_type
    """,
)
def q_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day event-rate anomaly detection: a (day, event_type)
    cell is anomalous when its count is >= 1.4x or <= 0.6x the average
    of the trailing 3 OBSERVED days. The ratio is integer permille
    (1000*n*k/sum) — exact in both engines; days with no events at all
    simply don't extend the window (documented trailing-observed
    semantics, the cheap form at scale).

    Scale: the raw stream collapses to per-day counts in one hash
    aggregate (map-side partials), and the trailing window runs over the
    tiny aggregated table — never over raw events."""
    ev = table(spark, sf_dir, "events")
    daily = (ev.groupBy(F.expr(f"us div {US_PER_DAY}").alias("day_num"),
                        "event_type")
             .agg(F.count(F.lit(1)).cast("long").alias("n")))
    w = (Window.partitionBy("event_type").orderBy("day_num")
         .rowsBetween(-3, -1))
    trailed = daily.select(
        "day_num", "event_type", "n",
        F.sum("n").over(w).alias("s3"),
        F.count("n").over(w).alias("k3"))
    ratio = F.expr("(1000 * n * k3) DIV s3")
    return (
        trailed.filter(F.col("k3") > 0)
        .withColumn("ratio_pm", ratio)
        .filter((F.col("ratio_pm") >= ANOM_HI_PM)
                | (F.col("ratio_pm") <= ANOM_LO_PM))
        .select(
            F.date_add(F.lit("1970-01-01").cast("date"),
                       F.col("day_num").cast("int"))
            .cast("string").alias("day"),
            "event_type", "n", "ratio_pm")
        .orderBy("day", "event_type")
    )


@register(
    "q_attribution",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_id, event_type, value, epoch_us(ts) AS us
        FROM events
    ), touched AS (
        SELECT user_id, event_id, event_type, value,
               LAST_VALUE(CASE WHEN event_type <> 'purchase'
                               THEN event_type END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS channel
        FROM e
    )
    SELECT COALESCE(channel, 'organic') AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           {sql_dsum("value", "attributed_value", 6)}
    FROM touched
    WHERE event_type = 'purchase'
    GROUP BY 1
    ORDER BY channel
    """,
)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the most
    recent preceding NON-purchase event of the same user ('organic' when
    none). The classic marketing-analytics stateful scan, expressed as a
    last(ignorenulls) running window — no per-row UDF, no state store.

    Scale: one user_id exchange for the window; the purchase filter and
    the final channel aggregate are map-side after it. Ordering ties
    break on event_id in both engines (ts is µs-truncated identically)."""
    ev = table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("us", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    channel = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True).over(w)
    return (
        ev.select("user_id", "event_id", "event_type", "value",
                  channel.alias("channel"))
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("channel", F.lit("organic")).alias("channel"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_purchases"),
             dsum(F.col("value"), "attributed_value", 6))
        .orderBy("channel")
    )


@register(
    "q_interval_enrich",
    oracle="""
    WITH upd AS (
        SELECT user_id, epoch_us(ts) AS us, event_id, value FROM events
        WHERE event_type = 'signup'
    ), iv AS (
        SELECT user_id, value AS attr_value, us AS valid_from_us,
               COALESCE(LEAD(us) OVER (PARTITION BY user_id
                                       ORDER BY us, event_id),
                        9223372036854775807) AS valid_to_us
        FROM upd
    )
    SELECT iv.user_id, iv.valid_from_us,
           CAST(COUNT(e.event_id) AS BIGINT) AS n_events
    FROM iv
    JOIN (SELECT user_id, event_id, epoch_us(ts) AS us FROM events) e
      ON e.user_id = iv.user_id
     AND e.us >= iv.valid_from_us AND e.us < iv.valid_to_us
    GROUP BY 1, 2
    ORDER BY iv.user_id, iv.valid_from_us
    """,
)
def q_interval_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval enrichment: join every event to the SCD2
    validity interval (built by q_scd2_history's window) covering its
    timestamp, and count events per interval — the standard pattern for
    joining a fact stream against dimension history.

    Scale: the interval predicate rides on an EQUI-join on user_id, so
    the shuffle is keyed and sized by users, and the range condition is
    evaluated within the matched pairs only — never a cartesian. A user's
    intervals partition [first_update, +inf), so each event matches at
    most one interval (no fan-out)."""
    ev = table(spark, sf_dir, "events")
    iv = q_scd2_history(spark, sf_dir).select(
        F.col("user_id").alias("iv_user"), "valid_from_us", "valid_to_us")
    return (
        ev.join(iv, (ev.user_id == iv.iv_user)
                & (ev.us >= iv.valid_from_us)
                & (ev.us < iv.valid_to_us))
        .groupBy(F.col("iv_user").alias("user_id"), "valid_from_us")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .orderBy("user_id", "valid_from_us")
    )


# ---------------------------------------------------------------------------
# Event-transition matrix (first-order Markov over the session stream)
# ---------------------------------------------------------------------------


@register(
    "q_event_transitions",
    oracle="""
    WITH e AS (
        SELECT user_id, event_type, epoch_us(ts) AS us, event_id
        FROM events
    ),
    nxt AS (
        SELECT event_type AS src,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY us, event_id) AS dst
        FROM e
    )
    SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n,
           CAST((1000 * COUNT(*)) // SUM(COUNT(*)) OVER (PARTITION BY src)
                AS BIGINT) AS p_permille
    FROM nxt
    WHERE dst IS NOT NULL
    GROUP BY src, dst
    ORDER BY src, dst
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type transition matrix: for every consecutive pair
    in a user's ordered stream, count (src -> dst) and its integer
    permille share of the source row — the first-order Markov model of
    user behavior (the events-table twin of textstats' token bigram LM).

    Scale: one user_id exchange for the LEAD window; the transition
    aggregate collapses to |types|^2 rows, so the share window runs over
    a constant-size table. Ordering ties break on event_id in both
    engines."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    nxt = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"))
    counts = (nxt.filter(F.col("dst").isNotNull())
              .groupBy("src", "dst")
              .agg(F.count(F.lit(1)).cast("long").alias("n")))
    src_total = F.sum("n").over(Window.partitionBy("src"))
    return (counts
            .withColumn("src_total", src_total)
            .withColumn("p_permille",
                        F.expr("(1000 * n) DIV src_total"))
            .drop("src_total")
            .orderBy("src", "dst"))


# ---------------------------------------------------------------------------
# Activity concentration (Lorenz curve + Gini coefficient)
# ---------------------------------------------------------------------------


@register(
    "q_activity_lorenz",
    oracle="""
    WITH per_user AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY user_id
    ), level AS (
        SELECT x, CAST(COUNT(*) AS BIGINT) AS n_users
        FROM per_user GROUP BY x
    ), cum AS (
        SELECT x, n_users,
               CAST(SUM(n_users) OVER (ORDER BY x) AS BIGINT) AS cu,
               CAST(SUM(x * n_users) OVER (ORDER BY x) AS BIGINT) AS ce
        FROM level
    ), tot AS (
        SELECT CAST(SUM(n_users) AS BIGINT) AS nn,
               CAST(SUM(x * n_users) AS BIGINT) AS tt,
               CAST(SUM(CAST(x AS HUGEINT)
                        * (CAST(cu AS HUGEINT) * (cu + 1)
                           - CAST(cu - n_users AS HUGEINT)
                             * (cu - n_users + 1)) // 2) AS HUGEINT) AS s
        FROM cum
    )
    SELECT c.x AS n_events_level, c.n_users,
           (1000 * c.cu) // t.nn AS cum_users_permille,
           (1000 * c.ce) // t.tt AS cum_events_permille,
           CAST((1000 * (2 * t.s - (CAST(t.nn AS HUGEINT) + 1) * t.tt))
                // (CAST(t.nn AS HUGEINT) * t.tt) AS BIGINT)
               AS gini_permille
    FROM cum c CROSS JOIN tot t
    ORDER BY n_events_level
    """)
def q_activity_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-activity concentration: the Lorenz curve (cumulative user
    share vs cumulative event share, walking users from least to most
    active) and the exact Gini coefficient of event concentration in
    permille — the power-user/inequality audit of an event log (0 =
    everyone equally active, ->1000 = all activity from one user).

    Scale-safe formulation: users collapse to ACTIVITY LEVELS first
    (level = distinct event count, bounded by max activity, not user
    count), so the rank arithmetic that Gini's Sum(rank*x) needs runs on
    the tiny level table — each level contributes x * (cu*(cu+1) -
    prev*(prev+1))/2 by the arithmetic-series closed form, windowed over
    levels only. No global per-user sort, no single-task window over the
    user table. 128-bit exact lanes; bit-identical oracle."""
    ev = table(spark, sf_dir, "events")
    per_user = (ev.groupBy("user_id")
                .agg(F.count("*").cast("long").alias("x")))
    level = (per_user.groupBy("x")
             .agg(F.count("*").cast("long").alias("n_users")))
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding,
                                        Window.currentRow)
    cum = (level
           .withColumn("cu", F.sum("n_users").over(w).cast("long"))
           .withColumn("ce", F.sum(F.expr("x * n_users")).over(w)
                       .cast("long")))
    tot = cum.agg(
        F.sum("n_users").cast("long").alias("nn"),
        F.sum(F.expr("x * n_users")).cast("long").alias("tt"),
        F.sum(F.expr(
            "CAST(x AS DECIMAL(38,0))"
            " * (CAST(cu AS DECIMAL(38,0)) * (cu + 1)"
            "    - CAST(cu - n_users AS DECIMAL(38,0))"
            "      * (cu - n_users + 1)) div 2"))
        .cast("decimal(38,0)").alias("s"))
    return (cum.crossJoin(F.broadcast(tot))
            .select(F.col("x").alias("n_events_level"), "n_users",
                    F.expr("(1000 * cu) div nn").alias("cum_users_permille"),
                    F.expr("(1000 * ce) div tt").alias("cum_events_permille"),
                    F.expr("CAST((1000 * (2 * s"
                           " - (CAST(nn AS DECIMAL(38,0)) + 1) * tt))"
                           " div (CAST(nn AS DECIMAL(38,0)) * tt)"
                           " AS BIGINT)").alias("gini_permille"))
            .orderBy("n_events_level"))


# ---------------------------------------------------------------------------
# Growth accounting (new / retained / resurrected / churned)
# ---------------------------------------------------------------------------


@register(
    "q_growth_accounting",
    oracle=f"""
    WITH ud AS (
        SELECT DISTINCT user_id,
               CAST(epoch_us(ts) // {US_PER_DAY} AS BIGINT) AS day
        FROM events
    ), first AS (
        SELECT user_id, MIN(day) AS fd FROM ud GROUP BY user_id
    ), flags AS (
        SELECT t.user_id, t.day,
               CASE WHEN t.day = f.fd THEN 1 ELSE 0 END AS is_new,
               CASE WHEN y.user_id IS NOT NULL THEN 1 ELSE 0 END
                   AS is_retained,
               CASE WHEN y.user_id IS NULL AND t.day > f.fd THEN 1 ELSE 0
                   END AS is_resurrected
        FROM ud t
        JOIN first f ON f.user_id = t.user_id
        LEFT JOIN ud y ON y.user_id = t.user_id AND y.day = t.day - 1
    ), daily AS (
        SELECT day,
               CAST(COUNT(*) AS BIGINT) AS n_active,
               CAST(SUM(is_new) AS BIGINT) AS n_new,
               CAST(SUM(is_retained) AS BIGINT) AS n_retained,
               CAST(SUM(is_resurrected) AS BIGINT) AS n_resurrected
        FROM flags GROUP BY day
    )
    SELECT d.day, d.n_active, d.n_new, d.n_retained, d.n_resurrected,
           COALESCE(p.n_active, 0) - d.n_retained AS n_churned
    FROM daily d LEFT JOIN daily p ON p.day = d.day - 1
    ORDER BY d.day
    """)
def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily growth accounting: every active user classified as NEW
    (first-ever day), RETAINED (also active the previous day), or
    RESURRECTED (returning after a gap); CHURNED counts yesterday's
    actives who didn't return (= prev actives - today's retained). The
    canonical DAU decomposition (new + retained + resurrected = active,
    an identity the test pins) that growth teams read before anything
    else.

    Scale: the user-day dedup is the only corpus-sized aggregate; first
    days are one user-keyed MIN; yesterday-membership is an equi-join of
    the deduped table against itself shifted by one day (user-keyed
    shuffle, no windows over users); the daily report joins a days-sized
    table to itself. All integers."""
    ev = table(spark, sf_dir, "events")
    ud = (ev.select("user_id",
                    F.expr(f"CAST(us div {US_PER_DAY} AS BIGINT)")
                    .alias("day"))
          .distinct())
    first = ud.groupBy("user_id").agg(F.min("day").alias("fd"))
    y = ud.select("user_id", (F.col("day") + 1).alias("day"),
                  F.lit(1).alias("was_yesterday"))
    flags = (ud.join(first, "user_id")
             .join(y, ["user_id", "day"], "left")
             .select(
                 "day",
                 F.when(F.col("day") == F.col("fd"), 1).otherwise(0)
                 .alias("is_new"),
                 F.when(F.col("was_yesterday").isNotNull(), 1).otherwise(0)
                 .alias("is_retained"),
                 F.when(F.col("was_yesterday").isNull()
                        & (F.col("day") > F.col("fd")), 1).otherwise(0)
                 .alias("is_resurrected")))
    daily = (flags.groupBy("day")
             .agg(F.count("*").cast("long").alias("n_active"),
                  F.sum("is_new").cast("long").alias("n_new"),
                  F.sum("is_retained").cast("long").alias("n_retained"),
                  F.sum("is_resurrected").cast("long")
                  .alias("n_resurrected")))
    prev = daily.select((F.col("day") + 1).alias("day"),
                        F.col("n_active").alias("prev_active"))
    return (daily.join(prev, "day", "left")
            .select("day", "n_active", "n_new", "n_retained",
                    "n_resurrected",
                    (F.coalesce("prev_active", F.lit(0))
                     - F.col("n_retained")).alias("n_churned"))
            .orderBy("day"))


# ---------------------------------------------------------------------------
# Distribution drift (total-variation distance between periods)
# ---------------------------------------------------------------------------


@register(
    "q_distribution_drift",
    oracle=f"""
    WITH d AS (
        SELECT event_type,
               CAST(epoch_us(ts) // {US_PER_DAY} AS BIGINT) AS day
        FROM events
    ), rng AS (
        SELECT MIN(day) AS mn, MAX(day) AS mx FROM d
    ), halves AS (
        SELECT event_type,
               CASE WHEN day < (mn + mx + 1) // 2 THEN 1 ELSE 2 END AS half
        FROM d, rng
    ), c AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n1,
               CAST(SUM(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n2
        FROM halves GROUP BY event_type
    ), tot AS (
        SELECT CAST(SUM(n1) AS BIGINT) AS t1, CAST(SUM(n2) AS BIGINT) AS t2
        FROM c
    ), tvd AS (
        SELECT CAST(SUM(ABS(CAST(n1 AS HUGEINT) * t.t2
                            - CAST(n2 AS HUGEINT) * t.t1) * 500
                        // (CAST(t.t1 AS HUGEINT) * t.t2)) AS BIGINT)
                   AS tvd_permille
        FROM c CROSS JOIN tot t
    )
    SELECT c.event_type, c.n1 AS n_first, c.n2 AS n_second,
           (1000 * c.n1) // t.t1 AS share_first_permille,
           (1000 * c.n2) // t.t2 AS share_second_permille,
           (1000 * c.n1) // t.t1 - (1000 * c.n2) // t.t2
               AS delta_permille,
           v.tvd_permille
    FROM c CROSS JOIN tot t CROSS JOIN tvd v
    ORDER BY event_type
    """)
def q_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift monitor: split the event log at its midpoint
    day and compare the event-type mix of the two halves — per-type
    share deltas plus the total-variation distance (the log-free drift
    statistic: TVD = half the L1 distance between the two distributions,
    here in exact integer permille via cross-multiplication, no float
    ratios). The pre-deployment check that training-period data still
    looks like serving-period data.

    Scale: one scan to (type, half) cells, totals broadcast from the
    tiny cell table; the TVD row folds |types| integers. 128-bit exact
    lanes for the cross products."""
    ev = table(spark, sf_dir, "events")
    d = ev.select("event_type",
                  F.expr(f"CAST(us div {US_PER_DAY} AS BIGINT)")
                  .alias("day"))
    rng = d.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
    c = (d.crossJoin(F.broadcast(rng))
         .select("event_type",
                 F.expr("CASE WHEN day < (mn + mx + 1) div 2"
                        " THEN 1 ELSE 2 END").alias("half"))
         .groupBy("event_type")
         .agg(F.sum(F.expr("CASE WHEN half = 1 THEN 1 ELSE 0 END"))
              .cast("long").alias("n1"),
              F.sum(F.expr("CASE WHEN half = 2 THEN 1 ELSE 0 END"))
              .cast("long").alias("n2")))
    tot = c.agg(F.sum("n1").cast("long").alias("t1"),
                F.sum("n2").cast("long").alias("t2"))
    withtot = c.crossJoin(F.broadcast(tot))
    tvd = withtot.agg(
        F.sum(F.expr(
            "ABS(CAST(n1 AS DECIMAL(38,0)) * t2"
            " - CAST(n2 AS DECIMAL(38,0)) * t1) * 500"
            " div (CAST(t1 AS DECIMAL(38,0)) * t2)"))
        .cast("long").alias("tvd_permille"))
    return (withtot.crossJoin(F.broadcast(tvd))
            .select("event_type",
                    F.col("n1").alias("n_first"),
                    F.col("n2").alias("n_second"),
                    F.expr("(1000 * n1) div t1")
                    .alias("share_first_permille"),
                    F.expr("(1000 * n2) div t2")
                    .alias("share_second_permille"),
                    F.expr("(1000 * n1) div t1 - (1000 * n2) div t2")
                    .alias("delta_permille"),
                    "tvd_permille")
            .orderBy("event_type"))


# ---------------------------------------------------------------------------
# Path mining (event trigrams)
# ---------------------------------------------------------------------------

PATH_TOP = 15


@register(
    "q_event_paths",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type, 1) OVER w AS t2,
               lead(event_type, 2) OVER w AS t3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ), paths AS (
        SELECT event_type || ' > ' || t2 || ' > ' || t3 AS path
        FROM seq WHERE t2 IS NOT NULL AND t3 IS NOT NULL
    ), c AS (
        SELECT path, CAST(COUNT(*) AS BIGINT) AS n FROM paths GROUP BY path
    ), tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM c)
    SELECT c.path, c.n, (1000 * c.n) // t.t AS share_permille
    FROM c CROSS JOIN tot t
    ORDER BY c.n DESC, c.path
    LIMIT {PATH_TOP}
    """)
def q_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-step path mining: the most common event-type trigrams along
    each user's timeline (q_event_transitions extended from edges to
    PATHS) — the "how do users actually move through the product"
    census, with each path's share of all observed 3-step walks.

    Scale: both LEADs ride ONE user_id exchange (same window), paths
    collapse to a |types|^3-bounded aggregate with map-side partials,
    total broadcast, top-k total-ordered."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    seq = (ev.select("user_id", "event_type", "us", "event_id")
           .withColumn("t2", F.lead("event_type", 1).over(w))
           .withColumn("t3", F.lead("event_type", 2).over(w))
           .filter(F.col("t2").isNotNull() & F.col("t3").isNotNull()))
    c = (seq.select(F.concat_ws(" > ", "event_type", "t2", "t3")
                    .alias("path"))
         .groupBy("path").agg(F.count("*").cast("long").alias("n")))
    tot = c.agg(F.sum("n").cast("long").alias("t"))
    return (c.crossJoin(F.broadcast(tot))
            .select("path", "n",
                    F.expr("(1000 * n) div t").alias("share_permille"))
            .orderBy(F.desc("n"), "path")
            .limit(PATH_TOP))


# ---------------------------------------------------------------------------
# Max concurrency (relational sweep-line)
# ---------------------------------------------------------------------------


@register(
    "q_max_concurrency",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS us FROM events
    ), flagged AS (
        SELECT user_id, event_id, us,
               CASE WHEN us - LAG(us) OVER w > {{gap}}
                      OR LAG(us) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_s
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ), sess AS (
        SELECT user_id, us,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    ), spans AS (
        SELECT MIN(us) AS start_us, MAX(us) + 1 AS end_us
        FROM sess GROUP BY user_id, session_id
    ), deltas AS (
        SELECT us, CAST(SUM(d) AS BIGINT) AS delta FROM (
            SELECT start_us AS us, 1 AS d FROM spans
            UNION ALL
            SELECT end_us AS us, -1 AS d FROM spans
        ) GROUP BY us
    ), sweep AS (
        SELECT us,
               CAST(SUM(delta) OVER (ORDER BY us) AS BIGINT) AS concurrent
        FROM deltas
    ), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions FROM spans)
    SELECT t.n_sessions, s.concurrent AS max_concurrent, s.us AS at_us
    FROM sweep s CROSS JOIN tot t
    ORDER BY s.concurrent DESC, s.us
    LIMIT 1
    """.format(gap=SESSION_GAP_US))
def q_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency: the maximum number of simultaneously active
    user sessions (and the first microsecond it is reached) — the
    capacity-planning classic, computed as a relational SWEEP-LINE: each
    session emits +1 at its start and -1 just after its end, deltas
    aggregate per timestamp (which makes start/end tie order irrelevant),
    and the running sum rides :func:`two_phase_cumsum` — the third
    operator on that scalable prefix-sum primitive (with q_abc_parts and
    q_ks_test), so the sweep never serializes through one window task.

    Sessions come from the same gap rule as q_sessionize."""
    from columnar_estimator_sample_spark.operators.corpus import (
        two_phase_cumsum)
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    flagged = (ev.select("user_id", "event_id", "us")
               .withColumn(
                   "new_s",
                   F.when((F.col("us") - F.lag("us").over(w)
                           > SESSION_GAP_US)
                          | F.lag("us").over(w).isNull(), 1).otherwise(0)))
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    spans = (sess.groupBy("user_id", "session_id")
             .agg(F.min("us").alias("start_us"),
                  (F.max("us") + 1).alias("end_us")))
    deltas = (spans.select(F.col("start_us").alias("us"),
                           F.lit(1).alias("d"))
              .unionByName(spans.select(F.col("end_us").alias("us"),
                                        F.lit(-1).alias("d")))
              .groupBy("us").agg(F.sum("d").cast("long").alias("delta")))
    sweep = two_phase_cumsum(deltas, "us", "delta", "concurrent")
    tot = spans.agg(F.count("*").cast("long").alias("n_sessions"))
    return (sweep.crossJoin(F.broadcast(tot))
            .orderBy(F.desc("concurrent"), "us")
            .limit(1)
            .select("n_sessions",
                    F.col("concurrent").cast("long").alias("max_concurrent"),
                    F.col("us").alias("at_us")))


# ---------------------------------------------------------------------------
# Recency-decayed engagement score
# ---------------------------------------------------------------------------

DECAY_TOP = 15
US_PER_WEEK = 7 * US_PER_DAY


@register(
    "q_decay_engagement",
    oracle=f"""
    WITH wk AS (
        SELECT user_id,
               CAST(epoch_us(ts) // {US_PER_WEEK} AS BIGINT) AS week,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ), ref AS (SELECT MAX(week) AS now_wk FROM wk),
    scored AS (
        SELECT user_id,
               CAST(SUM((1000 * n)
                        // (CAST(1 AS BIGINT)
                            << CAST(LEAST(r.now_wk - week, 40) AS INT)))
                    AS BIGINT) AS score_milli,
               CAST(SUM(n) AS BIGINT) AS n_events
        FROM wk CROSS JOIN ref r
        GROUP BY user_id
    )
    SELECT user_id, n_events, score_milli
    FROM scored
    ORDER BY score_milli DESC, user_id
    LIMIT {DECAY_TOP}
    """)
def q_decay_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decayed engagement: each user's weekly activity counts
    weighted by a one-week half-life — weight = 2^-age_weeks, realized
    as integer floor-division by a shifted power of two (the EWMA trick
    generalized), so the "hot right now" leaderboard needs no float
    exponentials and the oracle matches bit for bit. Reports the
    {DECAY_TOP} most-engaged users with raw totals alongside.

    Scale: events collapse to (user, week) cells, the reference week is
    a broadcast scalar, and the decayed sum is one user-keyed aggregate.
    Shift capped at 40 (weights below 2^-40 floor to zero anyway)."""
    ev = table(spark, sf_dir, "events")
    wk = (ev.select("user_id",
                    F.expr(f"CAST(us div {US_PER_WEEK} AS BIGINT)")
                    .alias("week"))
          .groupBy("user_id", "week")
          .agg(F.count("*").cast("long").alias("n")))
    ref = wk.agg(F.max("week").alias("now_wk"))
    return (wk.crossJoin(F.broadcast(ref))
            .groupBy("user_id")
            .agg(F.sum(F.expr(
                "(1000 * n) div shiftleft(CAST(1 AS BIGINT),"
                " CAST(LEAST(now_wk - week, 40) AS INT))"))
                .cast("long").alias("score_milli"),
                F.sum("n").cast("long").alias("n_events"))
            .select("user_id", "n_events", "score_milli")
            .orderBy(F.desc("score_milli"), "user_id")
            .limit(DECAY_TOP))


# ---------------------------------------------------------------------------
# Longest activity streak (gaps and islands)
# ---------------------------------------------------------------------------

STREAK_TOP = 15


@register(
    "q_longest_streak",
    oracle=f"""
    WITH ud AS (
        SELECT DISTINCT user_id,
               CAST(epoch_us(ts) // {US_PER_DAY} AS BIGINT) AS day
        FROM events
    ), isl AS (
        SELECT user_id, day,
               day - ROW_NUMBER() OVER (PARTITION BY user_id
                                        ORDER BY day) AS island
        FROM ud
    ), streaks AS (
        SELECT user_id, island,
               CAST(COUNT(*) AS BIGINT) AS streak_days,
               MIN(day) AS start_day
        FROM isl GROUP BY 1, 2
    ), best AS (
        SELECT user_id, streak_days, start_day FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY user_id
                ORDER BY streak_days DESC, start_day) AS rk
            FROM streaks
        ) WHERE rk = 1
    )
    SELECT user_id, streak_days, start_day
    FROM best
    ORDER BY streak_days DESC, user_id
    LIMIT {STREAK_TOP}
    """)
def q_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user, top
    {STREAK_TOP}: the gaps-and-islands pattern — consecutive days share
    a constant (day − row_number), so streaks are ONE window plus one
    aggregate, never a self-join or recursion. The engagement metric
    behind habit/retention features (and the canonical interview
    question, solved the scale-correct way).

    Scale: the user-day dedup bounds everything after; the island
    window, streak aggregate, and per-user argmax share one user-keyed
    exchange."""
    ev = table(spark, sf_dir, "events")
    ud = (ev.select("user_id",
                    F.expr(f"CAST(us div {US_PER_DAY} AS BIGINT)")
                    .alias("day"))
          .distinct())
    wu = Window.partitionBy("user_id")
    isl = ud.withColumn(
        "island", F.col("day") - F.row_number().over(wu.orderBy("day")))
    streaks = (isl.groupBy("user_id", "island")
               .agg(F.count("*").cast("long").alias("streak_days"),
                    F.min("day").alias("start_day")))
    best = (streaks.withColumn(
                "rk", F.row_number().over(
                    wu.orderBy(F.desc("streak_days"), "start_day")))
            .filter(F.col("rk") == 1))
    return (best.select("user_id", "streak_days", "start_day")
            .orderBy(F.desc("streak_days"), "user_id")
            .limit(STREAK_TOP))


# ---------------------------------------------------------------------------
# Cohort LTV curve
# ---------------------------------------------------------------------------

@register(
    "q_cohort_ltv",
    oracle=f"""
    WITH ev AS (
        SELECT user_id,
               CAST(epoch_us(ts) // {US_PER_WEEK} AS BIGINT) AS week,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM events
    ), cohort AS (
        SELECT user_id, MIN(week) AS cw FROM ev GROUP BY user_id
    ), cells AS (
        SELECT c.cw AS cohort_week, e.week - c.cw AS week_offset,
               CAST(SUM(e.cents) AS BIGINT) AS revenue_cents
        FROM ev e JOIN cohort c USING (user_id)
        GROUP BY 1, 2
    ), sized AS (
        SELECT cw AS cohort_week, CAST(COUNT(*) AS BIGINT) AS n_users
        FROM cohort GROUP BY cw
    )
    SELECT c.cohort_week, c.week_offset, s.n_users, c.revenue_cents,
           CAST(SUM(c.revenue_cents) OVER (
               PARTITION BY c.cohort_week ORDER BY c.week_offset)
               AS BIGINT) // s.n_users AS cum_ltv_cents_per_user
    FROM cells c JOIN sized s USING (cohort_week)
    ORDER BY cohort_week, week_offset
    """)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves: users grouped by first-active week, revenue
    accumulated by week-since-joining, reported as cumulative cents per
    cohort member — the lifetime-value triangle that pairs with
    q_cohort_retention (activity) on the revenue axis. Exact cents, and
    the running total rides a window over the already-aggregated
    (cohort x offset) cells, never raw events.

    Scale: one user-keyed join against the cohort table (itself a MIN
    aggregate), one (cohort, offset) hash aggregate, and a window over a
    weeks² frame."""
    ev = (table(spark, sf_dir, "events")
          .select("user_id",
                  F.expr(f"CAST(us div {US_PER_WEEK} AS BIGINT)")
                  .alias("week"),
                  F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100"
                         " AS BIGINT)").alias("cents")))
    cohort = ev.groupBy("user_id").agg(F.min("week").alias("cw"))
    cells = (ev.join(cohort, "user_id")
             .groupBy(F.col("cw").alias("cohort_week"),
                      (F.col("week") - F.col("cw")).alias("week_offset"))
             .agg(F.sum("cents").cast("long").alias("revenue_cents")))
    sized = (cohort.groupBy(F.col("cw").alias("cohort_week"))
             .agg(F.count("*").cast("long").alias("n_users")))
    w = (Window.partitionBy("cohort_week").orderBy("week_offset")
         .rowsBetween(Window.unboundedPreceding, 0))
    return (cells.join(F.broadcast(sized), "cohort_week")
            .withColumn("cum_rev",
                        F.sum("revenue_cents").over(w).cast("long"))
            .withColumn("cum_ltv_cents_per_user",
                        F.expr("cum_rev div n_users"))
            .drop("cum_rev")
            .select("cohort_week", "week_offset", "n_users",
                    "revenue_cents", "cum_ltv_cents_per_user")
            .orderBy("cohort_week", "week_offset"))


# ---------------------------------------------------------------------------
# Markov stationary distribution (event-type chain)
# ---------------------------------------------------------------------------

PPM = 1_000_000


@register(
    "q_markov_stationary",
    oracle=f"""
    WITH seq AS (
        SELECT event_type AS src,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY epoch_us(ts), event_id)
                   AS dst
        FROM events
    ), edges AS (
        SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS c
        FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2
    ), p AS (
        SELECT src, dst,
               ({PPM} * c) // CAST(SUM(c) OVER (PARTITION BY src)
                                   AS BIGINT) AS p_ppm
        FROM edges
    ), types AS (
        SELECT src AS t FROM edges GROUP BY src
    ), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM types),
    v0 AS (
        SELECT t, {PPM} // n.k AS v FROM types, n
    ), v1 AS (
        SELECT p.dst AS t, CAST(SUM(v0.v * p.p_ppm) // {PPM} AS BIGINT) AS v
        FROM v0 JOIN p ON p.src = v0.t GROUP BY p.dst
    ), v2 AS (
        SELECT p.dst AS t, CAST(SUM(v1.v * p.p_ppm) // {PPM} AS BIGINT) AS v
        FROM v1 JOIN p ON p.src = v1.t GROUP BY p.dst
    ), v3 AS (
        SELECT p.dst AS t, CAST(SUM(v2.v * p.p_ppm) // {PPM} AS BIGINT) AS v
        FROM v2 JOIN p ON p.src = v2.t GROUP BY p.dst
    )
    SELECT t AS event_type, v AS stationary_ppm
    FROM v3
    ORDER BY event_type
    """)
def q_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate stationary distribution of the user-behavior Markov
    chain: the event-type transition matrix (MLE permille of
    q_event_transitions, here in ppm) powered three steps from the
    uniform vector — where user attention settles if behavior keeps its
    current dynamics. The undamped sibling of q_pagerank on the
    behavioral graph instead of the trade graph; integer fixed-point
    ppm arithmetic end to end (floor per multiply, documented, identical
    in both engines).

    Scale: the chain distills from one LEAD pass over a user-keyed
    exchange into a |types|² matrix; each power step is a tiny
    broadcast-join aggregate, independent of corpus size."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    seq = (ev.select(F.col("event_type").alias("src"), "us", "event_id",
                     "user_id")
           .withColumn("dst", F.lead("src").over(w))
           .filter(F.col("dst").isNotNull()))
    edges = (seq.groupBy("src", "dst")
             .agg(F.count("*").cast("long").alias("c")))
    ws = Window.partitionBy("src")
    p = (edges.withColumn("tot", F.sum("c").over(ws).cast("long"))
         .select("src", "dst",
                 F.expr(f"({PPM} * c) div tot").alias("p_ppm")))
    types = edges.select(F.col("src").alias("t")).distinct()
    # Uniform start vector computed IN the plan (broadcast 1-row count),
    # not via a driver-side count(): no job runs at registry/plan time and
    # an empty events table yields an empty frame instead of dividing by 0.
    n = types.agg(F.count("*").cast("long").alias("k"))
    v = (types.crossJoin(F.broadcast(n))
         .select("t", F.expr(f"{PPM} div k").cast("long").alias("v")))
    for _ in range(3):
        v = (v.join(F.broadcast(p), v.t == p.src)
             .groupBy(F.col("dst").alias("t"))
             .agg(F.expr(f"CAST(SUM(v * p_ppm) div {PPM} AS BIGINT)")
                  .alias("v")))
    return (v.select(F.col("t").alias("event_type"),
                     F.col("v").alias("stationary_ppm"))
            .orderBy("event_type"))


# ---------------------------------------------------------------------------
# Funnel time-to-convert percentiles
# ---------------------------------------------------------------------------

TTC_PCTS = (50, 90)


@register(
    "q_funnel_latency",
    oracle=f"""
    WITH firsts AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
                   AS t_view,
               MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
                   AS t_buy
        FROM events GROUP BY user_id
    ), conv AS (
        SELECT user_id, (t_buy - t_view) // 1000000 AS ttc_s
        FROM firsts
        WHERE t_view IS NOT NULL AND t_buy IS NOT NULL AND t_buy >= t_view
    ), ranked AS (
        SELECT ttc_s,
               ROW_NUMBER() OVER (ORDER BY ttc_s, user_id) AS rn,
               COUNT(*) OVER () AS n
        FROM conv
    )
    SELECT CAST(n AS BIGINT) AS n_converted,
           {", ".join(
               f"MAX(CASE WHEN rn = 1 + ((n - 1) * {p}) // 100"
               f" THEN ttc_s END) AS p{p}_seconds" for p in TTC_PCTS)},
           MAX(ttc_s) AS max_seconds
    FROM ranked
    GROUP BY n
    """)
def q_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel time-to-convert: for users whose first purchase follows
    their first view, the exact nearest-rank p50/p90 (and max) of the
    conversion latency in whole seconds — the time-dimension companion
    to q_funnel's stage counts (how MANY convert there; how FAST here).

    Scale: first-touch times are one user-keyed conditional-MIN
    aggregate over the raw stream; converted users then collapse to the
    ttc-SECOND value histogram (one combiner aggregate), and the
    nearest-rank percentiles come from a two-phase prefix sum over that
    level frame (r14 — was a global row_number over converted users,
    the single-task shape the plan-audit window gate now rejects).
    Integer µs -> s floor division, timezone-invariant."""
    from columnar_estimator_sample_spark.operators.corpus import (
        two_phase_cumsum,
    )
    ev = table(spark, sf_dir, "events")
    firsts = (ev.groupBy("user_id")
              .agg(F.min(F.when(F.col("event_type") == "view",
                                F.col("us"))).alias("t_view"),
                   F.min(F.when(F.col("event_type") == "purchase",
                                F.col("us"))).alias("t_buy")))
    conv = (firsts
            .filter(F.col("t_view").isNotNull()
                    & F.col("t_buy").isNotNull()
                    & (F.col("t_buy") >= F.col("t_view")))
            .select("user_id",
                    F.expr("(t_buy - t_view) div 1000000").alias("ttc_s")))
    levels = (conv.groupBy("ttc_s")
              .agg(F.count(F.lit(1)).cast("long").alias("c")))
    tot = levels.agg(F.sum("c").cast("long").alias("n"))
    cum = two_phase_cumsum(levels, "ttc_s", "c", "cum")
    # nearest-rank value = smallest level whose running count reaches
    # the target rank (identical to the former row_number selection)
    sels = [F.min(F.when(
                F.expr(f"cum >= 1 + ((n - 1) * {p}) div 100"),
                F.col("ttc_s"))).alias(f"p{p}_seconds")
            for p in TTC_PCTS]
    return (cum.crossJoin(F.broadcast(tot))
            .groupBy(F.col("n").alias("n_converted"))
            .agg(*sels, F.max("ttc_s").alias("max_seconds"))
            .drop("n"))


# ---------------------------------------------------------------------------
# Bounce rate per day
# ---------------------------------------------------------------------------


@register(
    "q_bounce_rate",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS us FROM events
    ), flagged AS (
        SELECT user_id, event_id, us,
               CASE WHEN us - LAG(us) OVER w > {{gap}}
                      OR LAG(us) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_s
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ), sess AS (
        SELECT user_id, us,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    ), per_sess AS (
        SELECT user_id, sid,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               MIN(us) // {US_PER_DAY} AS day
        FROM sess GROUP BY 1, 2
    )
    SELECT CAST(day AS BIGINT) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bounces,
           (1000 * CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                        AS BIGINT)) // COUNT(*) AS bounce_permille
    FROM per_sess
    GROUP BY day
    ORDER BY day
    """.format(gap="{SESSION_GAP_US}").replace(
        "{SESSION_GAP_US}", str(SESSION_GAP_US)))
def q_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: the share of sessions (q_sessionize's 30-min
    gap rule) containing exactly ONE event, keyed by the session's start
    day — the engagement-quality headline a web/product dashboard leads
    with. Integer permille; ties and session identity are the exact
    sessionize contract, so this column can sit beside q_sessionize's
    output without definitional drift.

    Scale: sessions aggregate on the same single user exchange as
    q_sessionize; the daily rollup is days-sized."""
    ev = table(spark, sf_dir, "events").select("user_id", "event_id", "us")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    flagged = ev.select(
        "user_id", "event_id", "us",
        F.when((F.col("us") - F.lag("us").over(w) > SESSION_GAP_US)
               | F.lag("us").over(w).isNull(), 1).otherwise(0)
        .alias("new_s"))
    wc = (Window.partitionBy("user_id").orderBy("us", "event_id")
          .rowsBetween(Window.unboundedPreceding, 0))
    sess = flagged.select("user_id", "us",
                          F.sum("new_s").over(wc).alias("sid"))
    per_sess = (sess.groupBy("user_id", "sid")
                .agg(F.count("*").cast("long").alias("n_events"),
                     F.expr(f"MIN(us) div {US_PER_DAY}").alias("day")))
    return (per_sess.groupBy(F.col("day").cast("long").alias("day"))
            .agg(F.count("*").cast("long").alias("n_sessions"),
                 F.sum(F.expr("CASE WHEN n_events = 1 THEN 1 ELSE 0 END"))
                 .cast("long").alias("n_bounces"))
            .withColumn("bounce_permille",
                        F.expr("(1000 * n_bounces) div n_sessions"))
            .orderBy("day"))


# ---------------------------------------------------------------------------
# Inter-purchase interval percentiles
# ---------------------------------------------------------------------------

IPI_PCTS = (50, 90)


@register(
    "q_purchase_intervals",
    oracle=f"""
    WITH p AS (
        SELECT user_id, event_id, epoch_us(ts) AS us FROM events
        WHERE event_type = 'purchase'
    ), gaps AS (
        SELECT user_id,
               (us - LAG(us) OVER (PARTITION BY user_id
                                   ORDER BY us, event_id))
                   // {US_PER_DAY} AS gap_days,
               us
        FROM p
    ), g AS (SELECT user_id, gap_days, us FROM gaps
             WHERE gap_days IS NOT NULL),
    ranked AS (
        SELECT gap_days,
               ROW_NUMBER() OVER (ORDER BY gap_days, user_id, us) AS rn,
               COUNT(*) OVER () AS n
        FROM g
    )
    SELECT CAST(n AS BIGINT) AS n_intervals,
           {", ".join(
               f"MAX(CASE WHEN rn = 1 + ((n - 1) * {p}) // 100"
               f" THEN gap_days END) AS p{p}_days" for p in IPI_PCTS)},
           MAX(gap_days) AS max_days
    FROM ranked
    GROUP BY n
    """)
def q_purchase_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase interval profile: exact nearest-rank p50/p90 (and
    max) of the whole-day gaps between a user's consecutive purchases —
    the repeat-behavior cadence that drives replenishment reminders,
    churn-risk windows, and LTV discounting assumptions.

    Scale: the purchase stream filters BEFORE the user-keyed LAG
    exchange; intervals then collapse to the whole-DAY value histogram
    (bounded by the observation window, not purchase count) and the
    nearest-rank percentiles come from a two-phase prefix sum over that
    level frame (r14 — was a global row_number over every interval,
    the single-task shape the plan-audit window gate now rejects)."""
    from columnar_estimator_sample_spark.operators.corpus import (
        two_phase_cumsum,
    )
    ev = table(spark, sf_dir, "events")
    p = (ev.filter(F.col("event_type") == "purchase")
         .select("user_id", "event_id", "us"))
    g = (p.withColumn(
            "gap_days",
            F.expr(f"(us - LAG(us) OVER (PARTITION BY user_id"
                   f" ORDER BY us, event_id)) div {US_PER_DAY}"))
         .filter(F.col("gap_days").isNotNull()))
    levels = (g.groupBy("gap_days")
              .agg(F.count(F.lit(1)).cast("long").alias("c")))
    tot = levels.agg(F.sum("c").cast("long").alias("n"))
    cum = two_phase_cumsum(levels, "gap_days", "c", "cum")
    sels = [F.min(F.when(
                F.expr(f"cum >= 1 + ((n - 1) * {pct}) div 100"),
                F.col("gap_days"))).alias(f"p{pct}_days")
            for pct in IPI_PCTS]
    return (cum.crossJoin(F.broadcast(tot))
            .groupBy(F.col("n").alias("n_intervals"))
            .agg(*sels, F.max("gap_days").alias("max_days"))
            .drop("n"))


# ---------------------------------------------------------------------------
# Daily ARPU
# ---------------------------------------------------------------------------


@register(
    "q_daily_arpu",
    oracle=f"""
    WITH d AS (
        SELECT CAST(epoch_us(ts) // {US_PER_DAY} AS BIGINT) AS day,
               user_id,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM events
    )
    SELECT day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau,
           CAST(SUM(cents) AS BIGINT) AS revenue_cents,
           CAST(SUM(cents) AS BIGINT)
               // CAST(COUNT(DISTINCT user_id) AS BIGINT) AS arpu_cents
    FROM d
    GROUP BY day
    ORDER BY day
    """)
def q_daily_arpu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily ARPU: revenue per active user per day in exact floor cents
    — the unit-economics heartbeat that joins the engagement (DAU) and
    monetization (revenue) stories in one number.

    Scale: one scan, one (day)-keyed aggregate; the distinct-user count
    is the only sub-aggregation (at 100 TB it swaps for the mergeable
    q_hll_ndv or q_bitmap_retention estimator with the report shape
    unchanged)."""
    ev = table(spark, sf_dir, "events")
    return (ev.select(F.expr(f"CAST(us div {US_PER_DAY} AS BIGINT)")
                      .alias("day"),
                      "user_id",
                      F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100"
                             " AS BIGINT)").alias("cents"))
            .groupBy("day")
            .agg(F.countDistinct("user_id").cast("long").alias("dau"),
                 F.sum("cents").cast("long").alias("revenue_cents"))
            .withColumn("arpu_cents",
                        F.expr("revenue_cents div dau"))
            .orderBy("day"))


# ---------------------------------------------------------------------------
# Dormancy segments
# ---------------------------------------------------------------------------


@register(
    "q_dormancy_segments",
    oracle=f"""
    WITH last AS (
        SELECT user_id,
               MAX(CAST(epoch_us(ts) // {US_PER_DAY} AS BIGINT)) AS last_day
        FROM events GROUP BY user_id
    ), ref AS (SELECT MAX(last_day) AS now_day FROM last),
    seg AS (
        SELECT CASE
                 WHEN r.now_day - last_day <= 1 THEN '0_active'
                 WHEN r.now_day - last_day <= 7 THEN '1_recent'
                 WHEN r.now_day - last_day <= 30 THEN '2_lapsing'
                 ELSE '3_dormant' END AS segment
        FROM last CROSS JOIN ref r
    ), c AS (
        SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_users
        FROM seg GROUP BY segment
    ), tot AS (SELECT CAST(SUM(n_users) AS BIGINT) AS t FROM c)
    SELECT c.segment, c.n_users,
           (1000 * c.n_users) // t.t AS share_permille
    FROM c CROSS JOIN tot t
    ORDER BY c.segment
    """)
def q_dormancy_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dormancy segmentation: every user bucketed by days since last
    activity relative to the corpus's most recent day — active (<=1d),
    recent (<=7d), lapsing (<=30d), dormant — the lifecycle census a
    reactivation campaign targets. Integer day arithmetic, reference
    day broadcast.

    Scale: one user-keyed MAX over the stream, then a 4-row census."""
    ev = table(spark, sf_dir, "events")
    last = (ev.groupBy("user_id")
            .agg(F.expr(f"MAX(CAST(us div {US_PER_DAY} AS BIGINT))")
                 .alias("last_day")))
    ref = last.agg(F.max("last_day").alias("now_day"))
    seg = (last.crossJoin(F.broadcast(ref))
           .select(F.expr(
               "CASE WHEN now_day - last_day <= 1 THEN '0_active'"
               " WHEN now_day - last_day <= 7 THEN '1_recent'"
               " WHEN now_day - last_day <= 30 THEN '2_lapsing'"
               " ELSE '3_dormant' END").alias("segment")))
    c = seg.groupBy("segment").agg(
        F.count("*").cast("long").alias("n_users"))
    tot = c.agg(F.sum("n_users").cast("long").alias("t"))
    return (c.crossJoin(F.broadcast(tot))
            .select("segment", "n_users",
                    F.expr("(1000 * n_users) div t")
                    .alias("share_permille"))
            .orderBy("segment"))


# ---------------------------------------------------------------------------
# Discrete-time survival: churn hazard with right-censoring
# ---------------------------------------------------------------------------


@register(
    "q_churn_hazard",
    oracle=f"""
    WITH d AS (
        SELECT user_id,
               CAST(epoch_us(ts) // {US_PER_DAY} AS BIGINT) AS day
        FROM events
    ), g AS (SELECT MAX(day) AS gmax FROM d),
    u AS (
        SELECT user_id,
               MAX(day) - MIN(day) AS lifespan,
               CASE WHEN MAX(day) = MAX(g.gmax)
                    THEN 1 ELSE 0 END AS censored
        FROM d CROSS JOIN g GROUP BY user_id
    ), levels AS (
        SELECT lifespan,
               CAST(COUNT(*) AS BIGINT) AS n_all,
               CAST(SUM(1 - censored) AS BIGINT) AS n_churned
        FROM u GROUP BY lifespan
    ), risk AS (
        SELECT lifespan, n_all, n_churned,
               SUM(n_all) OVER (ORDER BY lifespan DESC
                                ROWS UNBOUNDED PRECEDING) AS n_at_risk
        FROM levels
    )
    SELECT lifespan AS lifespan_days,
           n_churned,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           (1000 * n_churned) // CAST(n_at_risk AS BIGINT) AS hazard_pm
    FROM risk
    ORDER BY lifespan_days
    """)
def q_churn_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time survival analysis of the user base: for each
    lifespan (days between a user's first and last activity), the churn
    HAZARD — users who churned at exactly that lifespan over users who
    survived at least that long — with proper RIGHT-CENSORING: users
    still active on the final observed day are at-risk but never counted
    as churned (calling them churned is the classic retention-analysis
    mistake). Integer permille; the Kaplan-Meier survival curve is the
    running product of (1 - hazard) and follows from these rows — the
    product itself stays off the oracle surface because chained rounding
    is representation-dependent, while the per-level hazards are exact.

    Scale: one user-keyed MIN/MAX aggregate over the raw stream, then
    everything rides the lifespan-LEVEL frame (at most observation-window
    days rows) — the suffix-sum window costs nothing at any corpus size.
    The global-max day is a 1-row broadcast, folded into the plan."""
    ev = table(spark, sf_dir, "events")
    d = ev.select("user_id",
                  F.expr(f"CAST(us div {US_PER_DAY} AS BIGINT)").alias("day"))
    g = d.agg(F.max("day").alias("gmax"))
    u = (d.groupBy("user_id")
         .agg(F.min("day").alias("fd"), F.max("day").alias("ld"))
         .crossJoin(F.broadcast(g))
         .select((F.col("ld") - F.col("fd")).alias("lifespan"),
                 F.expr("CASE WHEN ld = gmax THEN 1 ELSE 0 END")
                 .alias("censored")))
    levels = (u.groupBy("lifespan")
              .agg(F.count("*").cast("long").alias("n_all"),
                   F.sum(F.expr("1 - censored")).cast("long")
                   .alias("n_churned")))
    wr = (Window.orderBy(F.desc("lifespan"))
          .rowsBetween(Window.unboundedPreceding, 0))
    return (levels
            .withColumn("n_at_risk", F.sum("n_all").over(wr).cast("long"))
            .select(F.col("lifespan").alias("lifespan_days"),
                    "n_churned", "n_at_risk",
                    F.expr("(1000 * n_churned) div n_at_risk")
                    .alias("hazard_pm"))
            .orderBy("lifespan_days"))


# ---------------------------------------------------------------------------
# Multi-touch linear attribution (exact credit conservation)
# ---------------------------------------------------------------------------


@register(
    "q_attribution_linear",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        FROM events
    ), p AS (
        SELECT user_id, event_id AS p_id, us AS p_us,
               COALESCE(LAG(us) OVER (PARTITION BY user_id
                                      ORDER BY us, event_id), -1)
                   AS prev_us
        FROM e WHERE event_type = 'purchase'
    ), t AS (
        SELECT user_id, event_id AS t_id, event_type AS channel, us
        FROM e WHERE event_type IN ('view', 'click')
    ), touched AS (
        SELECT p.p_id, t.channel, t.us, t.t_id
        FROM p JOIN t ON t.user_id = p.user_id
                     AND t.us > p.prev_us AND t.us < p.p_us
    ), sized AS (
        SELECT p_id, channel, us, t_id,
               CAST(COUNT(*) OVER (PARTITION BY p_id) AS BIGINT) AS n,
               ROW_NUMBER() OVER (PARTITION BY p_id
                                  ORDER BY us, t_id) AS rk
        FROM touched
    ), credited AS (
        SELECT channel,
               (1000 // n) + CASE WHEN rk <= 1000 % n THEN 1 ELSE 0 END
                   AS credit
        FROM sized
    ), channel_rows AS (
        SELECT channel,
               CAST(COUNT(*) AS BIGINT) AS n_touches,
               CAST(SUM(credit) AS BIGINT) AS credit_total
        FROM credited GROUP BY channel
    ), unattributed AS (
        SELECT '(none)' AS channel,
               CAST(COUNT(*) AS BIGINT) AS n_touches,
               CAST(1000 * COUNT(*) AS BIGINT) AS credit_total
        FROM p WHERE NOT EXISTS (
            SELECT 1 FROM touched WHERE touched.p_id = p.p_id)
    )
    SELECT * FROM channel_rows
    UNION ALL
    SELECT * FROM unattributed WHERE n_touches > 0
    ORDER BY channel
    """)
def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch LINEAR attribution with exact credit conservation:
    every purchase carries 1000 credit permille, split equally across
    the view/click touchpoints in its attribution window (after the
    user's previous purchase, before this one); the integer split uses
    the largest-remainder rule (floor share + 1 extra to the earliest
    1000 mod n touches) so each purchase's credits sum to EXACTLY 1000 —
    the conservation law a float split violates and the same
    apportionment contract as q_largest_remainder. Purchases with no
    touches report under '(none)', so total credit = 1000 × purchases
    always. Complements q_attribution (last-touch): run both and the
    delta per channel is the model-choice sensitivity.

    Scale: purchases partition each user's timeline into disjoint
    intervals, so the touch join is an equi-join on user_id whose range
    predicate fans out each touch to AT MOST ONE purchase (the
    q_interval_enrich argument); the credit windows ride per-purchase
    groups. One user exchange end to end."""
    ev = table(spark, sf_dir, "events")
    e = ev.select("user_id", "event_id", "event_type", "us")
    wp = Window.partitionBy("user_id").orderBy("us", "event_id")
    p = (e.filter(F.col("event_type") == "purchase")
         .select("user_id", F.col("event_id").alias("p_id"),
                 F.col("us").alias("p_us"),
                 F.coalesce(F.lag("us").over(wp), F.lit(-1))
                 .alias("prev_us")))
    t = (e.filter(F.col("event_type").isin("view", "click"))
         .select("user_id", F.col("event_id").alias("t_id"),
                 F.col("event_type").alias("channel"),
                 F.col("us").alias("t_us")))
    touched = (p.join(t, "user_id")
               .filter((F.col("t_us") > F.col("prev_us"))
                       & (F.col("t_us") < F.col("p_us")))
               .select("p_id", "channel", "t_us", "t_id"))
    wn = Window.partitionBy("p_id")
    wr = Window.partitionBy("p_id").orderBy("t_us", "t_id")
    credited = (touched
                .withColumn("n", F.count("*").over(wn).cast("long"))
                .withColumn("rk", F.row_number().over(wr))
                .select("channel",
                        F.expr("(1000 div n) + CASE WHEN rk <= 1000 % n"
                               " THEN 1 ELSE 0 END").alias("credit")))
    channel_rows = (credited.groupBy("channel")
                    .agg(F.count("*").cast("long").alias("n_touches"),
                         F.sum("credit").cast("long")
                         .alias("credit_total")))
    unattributed = (p.join(touched.select("p_id").distinct(), "p_id",
                           "left_anti")
                    .agg(F.count("*").cast("long").alias("n_touches"),
                         (1000 * F.count("*")).cast("long")
                         .alias("credit_total"))
                    .select(F.lit("(none)").alias("channel"),
                            "n_touches", "credit_total")
                    .filter(F.col("n_touches") > 0))
    return channel_rows.unionByName(unattributed).orderBy("channel")


# ---------------------------------------------------------------------------
# SLO error-budget burn rate (SRE observability)
# ---------------------------------------------------------------------------

SLO_ERR_PM = 250      # objective: at most 25% error events per day
SLO_WINDOW_DAYS = 7   # rolling burn window


@register(
    "q_slo_burn",
    oracle=f"""
    WITH daily AS (
        SELECT epoch_us(ts) // {US_PER_DAY} AS day_num,
               CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_err
        FROM events GROUP BY 1
    ), rolled AS (
        SELECT day_num, n_total, n_err,
               SUM(n_total) OVER w AS t7,
               SUM(n_err) OVER w AS e7
        FROM daily
        WINDOW w AS (ORDER BY day_num
                     ROWS BETWEEN {SLO_WINDOW_DAYS - 1} PRECEDING
                     AND CURRENT ROW)
    )
    SELECT day_num,
           (1000 * n_err) // n_total AS err_pm,
           (1000000 * n_err) // ({SLO_ERR_PM} * n_total) AS burn_pm,
           CAST((1000000 * e7) // ({SLO_ERR_PM} * t7) AS BIGINT)
               AS burn7_pm,
           CASE WHEN (1000000 * e7) // ({SLO_ERR_PM} * t7) > 1000
                THEN 1 ELSE 0 END AS breach
    FROM rolled
    ORDER BY day_num
    """)
def q_slo_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO error-budget burn — the SRE companion to q_rate_anomaly:
    daily error share against a 250-permille objective,
    instantaneous burn rate (1000 = consuming budget exactly at the
    objective, >1000 = overspending), a 7-day rolling
    burn (the multiwindow alert policy from the Google SRE workbook,
    integer arithmetic end to end), and the breach flag a pager fires
    on. Burn on the ROLLING window resists the single-bad-hour false
    pages that instantaneous burn causes.

    Scale: one combiner-friendly daily aggregate (the event scan
    collapses before any window), then an unpartitioned window over
    |days| rows — calendar-bounded, so the global window is never the
    bottleneck; at 100 TB the only heavy stage is the first scan."""
    ev = table(spark, sf_dir, "events")
    daily = (ev.select(F.expr(f"us div {US_PER_DAY}").alias("day_num"),
                       "event_type")
             .groupBy("day_num")
             .agg(F.count("*").cast("long").alias("n_total"),
                  F.sum(F.when(F.col("event_type") == "error", 1)
                        .otherwise(0)).cast("long").alias("n_err")))
    w = (Window.orderBy("day_num")
         .rowsBetween(-(SLO_WINDOW_DAYS - 1), Window.currentRow))
    rolled = (daily
              .withColumn("t7", F.sum("n_total").over(w))
              .withColumn("e7", F.sum("n_err").over(w)))
    return rolled.select(
        "day_num",
        F.expr("(1000 * n_err) div n_total").alias("err_pm"),
        F.expr(f"(1000000 * n_err) div ({SLO_ERR_PM} * n_total)")
        .alias("burn_pm"),
        F.expr(f"(1000000 * e7) div ({SLO_ERR_PM} * t7)")
        .alias("burn7_pm"),
        F.expr(f"CASE WHEN (1000000 * e7) div ({SLO_ERR_PM} * t7)"
               " > 1000 THEN 1 ELSE 0 END").alias("breach")
    ).orderBy("day_num")


# ---------------------------------------------------------------------------
# CUPED variance reduction (pre-period covariate adjustment)
# ---------------------------------------------------------------------------

CUPED_SPLIT_DAY = 15   # pre-period: day < 15; experiment period: day >= 15


@register(
    "q_cuped",
    oracle=f"""
    WITH d0 AS (
        SELECT MIN(epoch_us(ts) // {US_PER_DAY}) AS mn FROM events
    ), per_user AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN epoch_us(ts) // {US_PER_DAY}
                             - d0.mn
                             < {CUPED_SPLIT_DAY} THEN 1 ELSE 0 END)
                    AS BIGINT) AS x,
               CAST(SUM(CASE WHEN epoch_us(ts) // {US_PER_DAY}
                             - d0.mn
                             >= {CUPED_SPLIT_DAY} THEN 1 ELSE 0 END)
                    AS BIGINT) AS y
        FROM events CROSS JOIN d0 GROUP BY user_id
    ), s AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(x) AS HUGEINT) AS sx,
               CAST(SUM(y) AS HUGEINT) AS sy,
               CAST(SUM(x * x) AS HUGEINT) AS sxx,
               CAST(SUM(y * y) AS HUGEINT) AS syy,
               CAST(SUM(x * y) AS HUGEINT) AS sxy
        FROM per_user
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           CAST(CASE WHEN n * sxy - sx * sy >= 0
                     THEN (1000 * (n * sxy - sx * sy))
                          // (n * sxx - sx * sx)
                     ELSE -((1000 * (sx * sy - n * sxy))
                            // (n * sxx - sx * sx)) END AS BIGINT)
               AS theta_milli,
           CAST((1000 * (n * sxy - sx * sy) * (n * sxy - sx * sy))
                // ((n * sxx - sx * sx) * (n * syy - sy * sy))
                AS BIGINT) AS var_reduction_pm
    FROM s
    """)
def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data, Deng et
    al. 2013): per-user pre-period activity as the covariate for the
    experiment-period metric. Reports theta (the adjustment coefficient
    cov(x,y)/var(x), milli-units) and the variance reduction CUPED
    delivers — exactly ρ² in permille, computed entirely in 128-bit
    integer lanes from one pass of sufficient statistics (the identity
    ρ²=cov²/(var·var) over n-scaled sums; sign-split division per the
    pinned contract). A/B tests shrink their confidence intervals by
    1/(1-ρ²) with the adjusted metric — this query says whether that is
    worth wiring up before q_ab_test reads the arms.

    Scale: one combiner-friendly per-user aggregate (the event scan
    collapses immediately), then a 1-row sufficient-statistics rollup —
    the same sub-linear shape as q_aqp_ci."""
    ev = table(spark, sf_dir, "events")
    d0 = ev.agg(F.expr(f"MIN(us div {US_PER_DAY})").alias("mn"))
    per_user = (ev.select("user_id",
                          F.expr(f"us div {US_PER_DAY}").alias("day"))
                .crossJoin(F.broadcast(d0))
                .select("user_id",
                        F.expr(f"CASE WHEN day - mn < {CUPED_SPLIT_DAY}"
                               " THEN 1 ELSE 0 END").alias("pre"))
                .groupBy("user_id")
                .agg(F.sum("pre").cast("long").alias("x"),
                     F.sum(F.expr("1 - pre")).cast("long").alias("y")))
    D = "DECIMAL(38,0)"
    s = per_user.agg(
        F.expr(f"CAST(COUNT(*) AS {D})").alias("n"),
        F.expr(f"CAST(SUM(x) AS {D})").alias("sx"),
        F.expr(f"CAST(SUM(y) AS {D})").alias("sy"),
        F.expr(f"CAST(SUM(CAST(x AS {D}) * x) AS {D})").alias("sxx"),
        F.expr(f"CAST(SUM(CAST(y AS {D}) * y) AS {D})").alias("syy"),
        F.expr(f"CAST(SUM(CAST(x AS {D}) * y) AS {D})").alias("sxy"))
    return s.select(
        F.expr("CAST(n AS BIGINT)").alias("n_users"),
        F.expr(
            "CAST(CASE WHEN n * sxy - sx * sy >= 0"
            " THEN (1000 * (n * sxy - sx * sy)) div (n * sxx - sx * sx)"
            " ELSE -((1000 * (sx * sy - n * sxy))"
            "        div (n * sxx - sx * sx)) END AS BIGINT)")
        .alias("theta_milli"),
        F.expr(
            "CAST((1000 * (n * sxy - sx * sy) * (n * sxy - sx * sy))"
            " div ((n * sxx - sx * sx) * (n * syy - sy * sy))"
            " AS BIGINT)").alias("var_reduction_pm"))


# ---------------------------------------------------------------------------
# Funnel with exclusion event (MATCH_RECOGNIZE-style clean conversion)
# ---------------------------------------------------------------------------

FEX_WINDOW_US = 7 * US_PER_DAY   # view -> purchase attribution window


@register(
    "q_funnel_exclusion",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        FROM events
    ), w AS (
        SELECT event_type, us,
               MAX(CASE WHEN event_type = 'view' THEN us END) OVER wprev
                   AS last_view,
               MAX(CASE WHEN event_type = 'error' THEN us END) OVER wprev
                   AS last_error
        FROM e
        WINDOW wprev AS (PARTITION BY user_id ORDER BY us, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING)
    ), p AS (
        SELECT us // {US_PER_DAY} AS day,
               CASE WHEN last_view IS NOT NULL
                         AND us - last_view <= {FEX_WINDOW_US}
                         AND (last_error IS NULL
                              OR last_error < last_view)
                    THEN 1 ELSE 0 END AS clean,
               CASE WHEN last_view IS NOT NULL
                         AND us - last_view <= {FEX_WINDOW_US}
                         AND last_error IS NOT NULL
                         AND last_error >= last_view
                    THEN 1 ELSE 0 END AS tainted
        FROM w WHERE event_type = 'purchase'
    )
    SELECT CAST(day AS BIGINT) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(clean) AS BIGINT) AS n_clean,
           CAST(SUM(tainted) AS BIGINT) AS n_tainted,
           (1000 * CAST(SUM(clean) AS BIGINT)) // COUNT(*)
               AS clean_permille
    FROM p GROUP BY day ORDER BY day
    """)
def q_funnel_exclusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clean-conversion funnel with an EXCLUSION event: a purchase
    converts cleanly when a view precedes it within 7 days and no error
    event sits between that view and the purchase — the
    sequence-pattern (A then B, no C between) that SQL usually buys with
    MATCH_RECOGNIZE or a temporal anti-join. Here the exclusion is a
    pure window computation: running conditional MAX of the last view /
    last error time before each row, then value comparisons — no
    self-join, no anti-join, no pattern engine.

    Scale: everything rides ONE user_id exchange (the q_sessionize
    exchange); the two conditional-MAX windows share it, and the daily
    rollup aggregates |days| rows. The anti-join formulation would
    shuffle events twice and explode on hot users; this shape cannot."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "us")
    wprev = (Window.partitionBy("user_id").orderBy("us", "event_id")
             .rowsBetween(Window.unboundedPreceding, -1))
    w = ev.select(
        "event_type", "us",
        F.max(F.when(F.col("event_type") == "view", F.col("us")))
        .over(wprev).alias("last_view"),
        F.max(F.when(F.col("event_type") == "error", F.col("us")))
        .over(wprev).alias("last_error"))
    in_win = (F.col("last_view").isNotNull()
              & (F.col("us") - F.col("last_view") <= FEX_WINDOW_US))
    p = (w.filter(F.col("event_type") == "purchase")
         .select(F.expr(f"us div {US_PER_DAY}").alias("day"),
                 F.when(in_win & (F.col("last_error").isNull()
                                  | (F.col("last_error")
                                     < F.col("last_view"))), 1)
                 .otherwise(0).alias("clean"),
                 F.when(in_win & F.col("last_error").isNotNull()
                        & (F.col("last_error") >= F.col("last_view")), 1)
                 .otherwise(0).alias("tainted")))
    return (p.groupBy(F.col("day").cast("long").alias("day"))
            .agg(F.count("*").cast("long").alias("n_purchases"),
                 F.sum("clean").cast("long").alias("n_clean"),
                 F.sum("tainted").cast("long").alias("n_tainted"))
            .withColumn("clean_permille",
                        F.expr("(1000 * n_clean) DIV n_purchases"))
            .orderBy("day"))


# ---------------------------------------------------------------------------
# Gapped-subsequence mining (PrefixSpan semantics, lengths 1-3)
# ---------------------------------------------------------------------------

SEQ_MINSUP_PM = 300    # minimum support, permille of users


@register(
    "q_sequence_mining",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts), event_id) AS rnk
        FROM events
    ), nu AS (
        SELECT COUNT(DISTINCT user_id) AS n_users FROM e
    ), fl AS (
        SELECT user_id, event_type AS t,
               MIN(rnk) AS fp, MAX(rnk) AS lp
        FROM e GROUP BY 1, 2
    ), l1 AS (
        SELECT t AS seq, 1 AS k, COUNT(*) AS supp FROM fl GROUP BY 1
    ), l2 AS (
        SELECT a.t || '>' || b.t AS seq, 2 AS k, COUNT(*) AS supp
        FROM fl a JOIN fl b
          ON a.user_id = b.user_id AND b.lp > a.fp
        GROUP BY 1
    ), f2 AS (
        SELECT o.user_id, a.t AS ta, o.event_type AS tb,
               MIN(o.rnk) AS fp2
        FROM e o JOIN fl a
          ON o.user_id = a.user_id AND o.rnk > a.fp
        GROUP BY 1, 2, 3
    ), l3 AS (
        SELECT f2.ta || '>' || f2.tb || '>' || c.t AS seq, 3 AS k,
               COUNT(*) AS supp
        FROM f2 JOIN fl c
          ON f2.user_id = c.user_id AND c.lp > f2.fp2
        GROUP BY 1
    ), allseq AS (
        SELECT * FROM l1 UNION ALL SELECT * FROM l2
        UNION ALL SELECT * FROM l3
    )
    SELECT seq, CAST(k AS BIGINT) AS k, CAST(supp AS BIGINT) AS supp,
           CAST((1000 * supp) // greatest(n_users, 1) AS BIGINT)
               AS supp_pm
    FROM allseq, nu
    WHERE 1000 * supp >= {SEQ_MINSUP_PM} * n_users
    ORDER BY k, supp DESC, seq
    """,
)
def q_sequence_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent gapped subsequences of event types per user, lengths 1-3
    (PrefixSpan semantics: "signup … view … purchase" with ARBITRARY
    gaps, support = users whose ordered stream contains the
    subsequence) — the sequential-pattern twin of q_event_paths, which
    counts only CONTIGUOUS trigrams.

    No pattern-growth recursion is needed at bounded length: a gapped
    subsequence exists iff greedy first-occurrence matching succeeds, so
      * a>b   supported for a user  iff  last(b) > first(a)
      * a>b>c supported             iff  last(c) > first-b-after-first-a
    which turns mining into min/max aggregates plus user-keyed joins of
    |types|-sized per-user summaries:
      1. rank events per user (ONE user_id exchange, shared by all
         levels), 2. (user, type) -> first/last rank [combinable agg],
      3. L2 = per-user summary self-join, 4. f2 = occurrences joined
      against first-ranks (O(events·|types|), user-keyed), 5. L3 = f2
      against last-ranks. Final aggregates are |types|^k-bounded with
      map-side partials; cross-validated against MLlib PrefixSpan in
      tests/test_insights.py.

    Scale: every join and window is user-partitioned; nothing global
    except the bounded |types|^k aggregates and the 1-row user count
    (folded broadcast, no driver job)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    e = ev.select("user_id", "event_type",
                  F.row_number().over(w).alias("rnk"))
    nu = e.agg(F.countDistinct("user_id").cast("long").alias("n_users"))
    fl = (e.groupBy("user_id", F.col("event_type").alias("t"))
          .agg(F.min("rnk").alias("fp"), F.max("rnk").alias("lp")))

    l1 = (fl.groupBy(F.col("t").alias("seq"))
          .agg(F.count("*").alias("supp"))
          .withColumn("k", F.lit(1)))
    a = fl.select("user_id", F.col("t").alias("ta"),
                  F.col("fp").alias("fpa"))
    b = fl.select("user_id", F.col("t").alias("tb"),
                  F.col("lp").alias("lpb"))
    l2 = (a.join(b, "user_id")
          .filter(F.col("lpb") > F.col("fpa"))
          .groupBy(F.concat_ws(">", "ta", "tb").alias("seq"))
          .agg(F.count("*").alias("supp"))
          .withColumn("k", F.lit(2)))
    f2 = (e.join(a, "user_id")
          .filter(F.col("rnk") > F.col("fpa"))
          .groupBy("user_id", "ta", F.col("event_type").alias("tb"))
          .agg(F.min("rnk").alias("fp2")))
    c = fl.select("user_id", F.col("t").alias("tc"),
                  F.col("lp").alias("lpc"))
    l3 = (f2.join(c, "user_id")
          .filter(F.col("lpc") > F.col("fp2"))
          .groupBy(F.concat_ws(">", "ta", "tb", "tc").alias("seq"))
          .agg(F.count("*").alias("supp"))
          .withColumn("k", F.lit(3)))

    return (
        l1.unionByName(l2).unionByName(l3)
        .crossJoin(F.broadcast(nu))
        .filter(F.lit(1000) * F.col("supp")
                >= F.lit(SEQ_MINSUP_PM) * F.col("n_users"))
        .select(
            "seq", F.col("k").cast("long").alias("k"),
            F.col("supp").cast("long").alias("supp"),
            F.expr("(1000 * supp) DIV greatest(n_users, 1)")
            .cast("long").alias("supp_pm"))
        # r15: the r14 pre-sort hash exchange (sampler-twin fix) was
        # REVERTED here — the result frame is a |types|^k-bounded
        # aggregate, so the sampler twin it suppressed was tiny, and
        # the added exchange measured net-negative (driver r14: 0.74x;
        # confirmed by an r15 re-A/B).
        .orderBy("k", F.desc("supp"), "seq")
    )
