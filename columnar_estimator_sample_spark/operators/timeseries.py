"""Time-series operators over the event log: resampling, gap filling,
exponentially weighted smoothing.

The reference's trace events are an append-only time series of raw int64
timestamps aggregated by time-ish keys (/root/reference/README.md:93,107,
210-222). This module adds the standard time-series toolkit a warehouse
user expects on such a log. All time math is integer epoch-microsecond
arithmetic on the loader's ``us`` column (timezone-invariant by
construction, see operators/events.py docstring).

Cross-engine exactness notes:
  * OHLC open/close are picked by ROW_NUMBER over (us, event_id) — a
    total order, so both engines pick the identical row.
  * Gap-fill carries doubles forward verbatim (a copy, no arithmetic).
  * The EWMA uses power-of-two weights (8/4/2/1): ``8*v`` is EXACT in
    IEEE doubles, and the numerator is the same fixed expression tree in
    both engines, so the single final division is bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from columnar_estimator_sample_spark.functions.exact import (
    davg, dsum, sql_davg, sql_dsum)
from columnar_estimator_sample_spark.operators.events import US_PER_DAY
from columnar_estimator_sample_spark.registry import register
from columnar_estimator_sample_spark.sources.tables import table

US_PER_HOUR = 3_600_000_000
EWMA_USERS = 20  # report cap: users 0..19


@register(
    "q_resample_ohlc",
    oracle=f"""
    WITH ev AS (
        SELECT event_id, event_type, value,
               epoch_us(ts) AS us,
               epoch_us(ts) // {US_PER_HOUR} AS hr
        FROM events
    ),
    rk AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY hr, event_type
                                  ORDER BY us, event_id) AS rn_a,
               ROW_NUMBER() OVER (PARTITION BY hr, event_type
                                  ORDER BY us DESC, event_id DESC) AS rn_d
        FROM ev
    )
    SELECT hr, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
           {sql_dsum("value", "total")}
    FROM rk
    GROUP BY hr, event_type
    ORDER BY hr, event_type
    """,
)
def q_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC resample of ``value`` per event type — the classic
    downsampling operator (candlesticks / metric rollups). Open and close
    are the first/last observation under the total order (us, event_id),
    picked via two ROW_NUMBERs that share one (hr, event_type) exchange;
    high/low/count/total are plain hash aggregates.

    Scale: one shuffle on the bucket key; window + aggregate reuse it.
    The bucket key (hour × type) has high cardinality at 100 TB, so the
    aggregate is well spread; no global sort until the final (small)
    presentation ORDER BY."""
    ev = (table(spark, sf_dir, "events")
          .select("event_id", "event_type", "value", "us",
                  F.expr(f"us DIV {US_PER_HOUR}").alias("hr")))
    pw = Window.partitionBy("hr", "event_type")
    rk = (ev
          .withColumn("rn_a", F.row_number().over(
              pw.orderBy("us", "event_id")))
          .withColumn("rn_d", F.row_number().over(
              pw.orderBy(F.desc("us"), F.desc("event_id")))))
    return (rk.groupBy("hr", "event_type")
            .agg(F.count("*").cast("long").alias("n"),
                 F.max(F.when(F.col("rn_a") == 1, F.col("value")))
                 .alias("open"),
                 F.max("value").alias("high"),
                 F.min("value").alias("low"),
                 F.max(F.when(F.col("rn_d") == 1, F.col("value")))
                 .alias("close"),
                 dsum(F.col("value"), "total"))
            .orderBy("hr", "event_type"))


@register(
    "q_gap_fill",
    oracle=f"""
    WITH ev AS (
        SELECT event_type, epoch_us(ts) // {US_PER_DAY} AS day_num, value
        FROM events
    ),
    daily AS (
        SELECT event_type, day_num,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               {sql_davg("value", "avg_value", 6)}
        FROM ev GROUP BY event_type, day_num
    ),
    bounds AS (
        SELECT MIN(day_num) AS mn, MAX(day_num) AS mx FROM ev
    ),
    grid AS (
        SELECT t.event_type, g.day_num
        FROM (SELECT DISTINCT event_type FROM ev) t,
             (SELECT unnest(generate_series(mn, mx)) AS day_num
              FROM bounds) g
    )
    SELECT event_type, day_num,
           COALESCE(n_events, 0) AS n_events,
           last_value(avg_value IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY day_num
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS avg_value_ffill
    FROM grid LEFT JOIN daily USING (event_type, day_num)
    ORDER BY event_type, day_num
    """,
)
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense daily series per event type: a generated day grid
    (min..max) LEFT JOINed onto the actual daily aggregates, missing
    counts zero-filled and the daily average carried forward
    (last-observation-carried-forward). The standard prep step before
    charting or training on regular time steps.

    Scale: the grid is |types| × |days| — tiny relative to the event
    log — and the heavy side is ONE hash aggregate of the raw events.
    The forward fill is a per-type ordered window; day counts per type
    are bounded (years, not rows), so the window partition never
    explodes with data volume."""
    ev = (table(spark, sf_dir, "events")
          .select("event_type",
                  F.expr(f"us DIV {US_PER_DAY}").alias("day_num"),
                  "value"))
    daily = (ev.groupBy("event_type", "day_num")
             .agg(F.count("*").cast("long").alias("n_events"),
                  davg(F.col("value"), "avg_value", 6)))
    # day bounds ride a 1-row broadcast + in-plan sequence() explode —
    # the old .first() probe ran a full scan at plan-build time
    bounds = ev.agg(F.min("day_num").alias("mn"),
                    F.max("day_num").alias("mx"))
    grid = (ev.select("event_type").distinct()
            .crossJoin(F.broadcast(bounds))
            .select("event_type",
                    F.explode(F.sequence(F.col("mn"), F.col("mx")))
                    .alias("day_num")))
    w = (Window.partitionBy("event_type").orderBy("day_num")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (grid.join(daily, ["event_type", "day_num"], "left")
            .select("event_type", "day_num",
                    F.coalesce("n_events", F.lit(0)).alias("n_events"),
                    F.last("avg_value", ignorenulls=True).over(w)
                    .alias("avg_value_ffill"))
            .orderBy("event_type", "day_num"))


@register(
    "q_ewma",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_id, epoch_us(ts) AS us, value
        FROM events WHERE user_id < {EWMA_USERS}
    ),
    lagged AS (
        SELECT user_id, event_id, us, value,
               lag(value, 1) OVER w AS v1,
               lag(value, 2) OVER w AS v2,
               lag(value, 3) OVER w AS v3
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    )
    SELECT user_id, event_id, us,
           (8 * value
            + COALESCE(4 * v1, 0)
            + COALESCE(2 * v2, 0)
            + COALESCE(1 * v3, 0))
           / CAST(8 + (CASE WHEN v1 IS NULL THEN 0 ELSE 4 END)
                    + (CASE WHEN v2 IS NULL THEN 0 ELSE 2 END)
                    + (CASE WHEN v3 IS NULL THEN 0 ELSE 1 END)
                  AS DOUBLE) AS ewma
    FROM lagged
    ORDER BY user_id, us, event_id
    """,
)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (half-life = 1 step) of
    ``value`` per user, truncated at 4 taps with power-of-two weights
    8/4/2/1 — the fixed-expression-tree form whose doubles are
    bit-identical across engines (see module docstring). Early rows
    renormalize over the weights actually present, the standard
    'adjust=True' EWMA convention.

    Scale: one (user_id)-keyed window; the report cap (user_id <
    {EWMA_USERS}) is presentation-only — the operator itself is a single
    partitioned sort that spreads across the cluster by user."""
    ev = (table(spark, sf_dir, "events")
          .filter(F.col("user_id") < EWMA_USERS)
          .select("user_id", "event_id", "us", "value"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    lagged = (ev
              .withColumn("v1", F.lag("value", 1).over(w))
              .withColumn("v2", F.lag("value", 2).over(w))
              .withColumn("v3", F.lag("value", 3).over(w)))
    num = (F.lit(8) * F.col("value")
           + F.coalesce(F.lit(4) * F.col("v1"), F.lit(0))
           + F.coalesce(F.lit(2) * F.col("v2"), F.lit(0))
           + F.coalesce(F.lit(1) * F.col("v3"), F.lit(0)))
    den = (F.lit(8)
           + F.when(F.col("v1").isNull(), 0).otherwise(4)
           + F.when(F.col("v2").isNull(), 0).otherwise(2)
           + F.when(F.col("v3").isNull(), 0).otherwise(1))
    return (lagged.select("user_id", "event_id", "us",
                          (num / den.cast("double")).alias("ewma"))
            .orderBy("user_id", "us", "event_id"))


# ---------------------------------------------------------------------------
# Hypertable-style multi-resolution rollup + rolling active users
# ---------------------------------------------------------------------------


@register(
    "q_hypertable_rollup",
    oracle=f"""
    WITH ev AS (
        SELECT event_type, value,
               epoch_us(ts) // {US_PER_HOUR} AS hr,
               epoch_us(ts) // {US_PER_DAY} AS day
        FROM events
    )
    SELECT CASE WHEN GROUPING(hr) = 0 THEN 'hour' ELSE 'day' END
               AS resolution,
           COALESCE(hr * {US_PER_HOUR}, day * {US_PER_DAY})
               AS bucket_start_us,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_dsum("value", "total")}
    FROM ev
    GROUP BY GROUPING SETS ((event_type, hr), (event_type, day))
    ORDER BY resolution, bucket_start_us, event_type
    """,
)
def q_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: hourly AND daily rollups of
    the event stream materialized in ONE pass via GROUPING SETS — the
    multi-resolution downsampling a time-series warehouse keeps hot
    (TimescaleDB continuous aggregates / Druid rollup shape).

    Scale: one scan feeds both resolutions (Spark's Expand node emits a
    row per grouping set BEFORE the hash aggregate, so partial aggs stay
    map-side); the alternative — two scans + a union — reads the 100 TB
    fact twice. Sums ride the decimal-exact lane."""
    ev = table(spark, sf_dir, "events").select(
        "event_type", "value",
        F.expr(f"us div {US_PER_HOUR}").alias("hr"),
        F.expr(f"us div {US_PER_DAY}").alias("day"))
    ev.createOrReplaceTempView("ht_ev_tmp")
    return spark.sql(f"""
        SELECT CASE WHEN GROUPING(hr) = 0 THEN 'hour' ELSE 'day' END
                   AS resolution,
               COALESCE(hr * {US_PER_HOUR}, day * {US_PER_DAY})
                   AS bucket_start_us,
               event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total
        FROM ht_ev_tmp
        GROUP BY GROUPING SETS ((event_type, hr), (event_type, day))
        ORDER BY resolution, bucket_start_us, event_type
    """)


@register(
    "q_rolling_active",
    oracle=f"""
    WITH ud AS (
        SELECT DISTINCT epoch_us(ts) // {US_PER_DAY} AS day, user_id
        FROM events
    ),
    days AS (
        SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY day
    ),
    contrib AS (
        SELECT DISTINCT user_id, tday FROM (
            SELECT user_id, unnest(range(day, day + 7)) AS tday FROM ud)
    ),
    wau AS (
        SELECT tday AS day, CAST(COUNT(*) AS BIGINT) AS wau7
        FROM contrib GROUP BY 1
    )
    SELECT CAST(DATE '1970-01-01' + CAST(d.day AS INT) AS VARCHAR) AS day,
           d.dau, w.wau7
    FROM days d JOIN wau w ON d.day = w.day
    ORDER BY day
    """,
)
def q_rolling_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU and trailing-7-day WAU per observed day. The sliding COUNT
    DISTINCT is restated as a bounded fan-out: each (user, day) row
    contributes to the 7 target days it can activate, the fan-out is
    deduped, and a plain hash count per target day remains — the
    standard scale trick, since a windowed COUNT(DISTINCT) would need
    the full user set per frame (Spark doesn't even allow it).

    Scale: the fan-out is 7x the ALREADY-deduplicated user-day table
    (tiny vs raw events), both distincts and both counts are keyed hash
    aggregates, and the final day-keyed join is between two day-sized
    frames."""
    ev = table(spark, sf_dir, "events")
    ud = (ev.select(F.expr(f"us div {US_PER_DAY}").alias("day"), "user_id")
          .distinct())
    days = ud.groupBy("day").agg(F.count("*").cast("long").alias("dau"))
    contrib = (ud.select(
        "user_id",
        F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("tday"))
        .distinct())
    wau = (contrib.groupBy(F.col("tday").alias("wday"))
           .agg(F.count("*").cast("long").alias("wau7")))
    return (
        days.join(wau, days.day == wau.wday)
        .select(
            F.date_add(F.lit("1970-01-01").cast("date"),
                       F.col("day").cast("int")).cast("string").alias("day"),
            "dau", "wau7")
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Weekday seasonality profile
# ---------------------------------------------------------------------------


@register(
    "q_weekday_seasonality",
    oracle=f"""
    WITH d AS (
        SELECT event_type,
               CAST(((epoch_us(ts) // {US_PER_DAY}) + 3) % 7 AS BIGINT)
                   AS weekday
        FROM events
    ), c AS (
        SELECT event_type, weekday, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM d GROUP BY 1, 2
    )
    SELECT event_type, weekday, n_events,
           (n_events * 7 * 1000)
           // CAST(SUM(n_events) OVER (PARTITION BY event_type) AS BIGINT)
               AS seasonality_permille
    FROM c
    ORDER BY event_type, weekday
    """)
def q_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality index per event type: observed share of
    events on each weekday vs the uniform 1/7 expectation, in integer
    permille (1000 = exactly uniform, 2000 = twice the uniform rate).
    Weekday derives from integer epoch-day arithmetic ((day+3) mod 7,
    Monday=0) on the µs lane — timezone-invariant by construction, no
    date formatting in either engine.

    Scale: one scan collapses to a (type x 7)-row aggregate with
    map-side partials; the normalizing window rides the already-tiny
    aggregate. The index is the standard seasonal-naive baseline a
    forecasting pipeline derives before modeling."""
    ev = table(spark, sf_dir, "events")
    c = (ev.select("event_type",
                   F.expr(f"CAST(((us div {US_PER_DAY}) + 3) % 7 AS BIGINT)")
                   .alias("weekday"))
         .groupBy("event_type", "weekday")
         .agg(F.count("*").cast("long").alias("n_events")))
    w = Window.partitionBy("event_type")
    return (c.withColumn("n_type", F.sum("n_events").over(w))
            .withColumn("seasonality_permille",
                        F.expr("(n_events * 7 * 1000) div n_type"))
            .drop("n_type")
            .orderBy("event_type", "weekday"))


# ---------------------------------------------------------------------------
# MAD-based robust outlier days
# ---------------------------------------------------------------------------

MAD_TOP = 10
_VCENTS = "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"


@register(
    "q_mad_outliers",
    oracle=f"""
    WITH daily AS (
        SELECT event_type,
               CAST(epoch_us(ts) // {US_PER_DAY} AS BIGINT) AS day,
               CAST(SUM({_VCENTS}) AS BIGINT) AS total_cents
        FROM events GROUP BY 1, 2
    ), ranked AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY total_cents, day) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM daily
    ), med AS (
        SELECT event_type, total_cents AS med_cents
        FROM ranked WHERE rn = (n + 1) // 2
    ), dev AS (
        SELECT d.event_type, d.day, d.total_cents, m.med_cents,
               ABS(d.total_cents - m.med_cents) AS dev_cents
        FROM daily d JOIN med m USING (event_type)
    ), dev_ranked AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY dev_cents, day) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM dev
    ), mad AS (
        SELECT event_type, dev_cents AS mad_cents
        FROM dev_ranked WHERE rn = (n + 1) // 2
    )
    SELECT d.event_type, d.day, d.total_cents, d.med_cents,
           d.dev_cents, m.mad_cents,
           (10 * d.dev_cents) // GREATEST(m.mad_cents, 1) AS ratio_x10
    FROM dev d JOIN mad m USING (event_type)
    ORDER BY ratio_x10 DESC, event_type, day
    LIMIT {MAD_TOP}
    """)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier days per event type via median absolute deviation:
    daily revenue totals in exact cents, EXACT lower median per type
    (rank-select, no interpolation -> integer), deviation from median,
    exact median of deviations (the MAD), and the {MAD_TOP} most anomalous
    (type, day) cells by deviation/MAD ratio. The median/MAD pair is the
    outlier detector that survives the very anomalies it hunts — unlike
    the mean/stddev z-score, one whale day cannot drag the baseline.

    Scale: the raw stream collapses to a (type x days) aggregate first;
    both median rank-selects and the deviation join ride ONE event_type
    exchange (window partitions reuse it), all on the tiny aggregate.
    Integer cents end to end -> bit-identical oracle."""
    ev = table(spark, sf_dir, "events")
    daily = (ev.select("event_type",
                       F.expr(f"CAST(us div {US_PER_DAY} AS BIGINT)")
                       .alias("day"),
                       F.expr(_VCENTS).alias("cents"))
             .groupBy("event_type", "day")
             .agg(F.sum("cents").cast("long").alias("total_cents")))
    wt = Window.partitionBy("event_type")

    def lower_median(df: DataFrame, col: str, out: str) -> DataFrame:
        w = Window.partitionBy("event_type").orderBy(col, "day")
        return (df.withColumn("rn", F.row_number().over(w))
                .withColumn("n", F.count("*").over(wt))
                .filter(F.expr("rn = (n + 1) div 2"))
                .select("event_type", F.col(col).alias(out)))

    med = lower_median(daily, "total_cents", "med_cents")
    dev = (daily.join(F.broadcast(med), "event_type")
           .withColumn("dev_cents",
                       F.abs(F.col("total_cents") - F.col("med_cents"))))
    mad = lower_median(dev, "dev_cents", "mad_cents")
    return (dev.join(F.broadcast(mad), "event_type")
            .select("event_type", "day", "total_cents", "med_cents",
                    "dev_cents", "mad_cents",
                    F.expr("(10 * dev_cents) div GREATEST(mad_cents, 1)")
                    .alias("ratio_x10"))
            .orderBy(F.desc("ratio_x10"), "event_type", "day")
            .limit(MAD_TOP))


# ---------------------------------------------------------------------------
# Seasonal-naive forecast backtest
# ---------------------------------------------------------------------------

BACKTEST_DAYS = 7


@register(
    "q_seasonal_backtest",
    oracle=f"""
    WITH daily AS (
        SELECT event_type,
               CAST(epoch_us(ts) // {US_PER_DAY} AS BIGINT) AS day,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ), split AS (
        SELECT MAX(day) - {BACKTEST_DAYS} + 1 AS cut FROM daily
    ), train AS (
        SELECT d.* FROM daily d, split s WHERE d.day < s.cut
    ), test AS (
        SELECT d.* FROM daily d, split s WHERE d.day >= s.cut
    ), seasonal AS (
        SELECT event_type, (day + 3) % 7 AS weekday,
               CAST(SUM(n) AS BIGINT) // COUNT(*) AS fc
        FROM train GROUP BY 1, 2
    ), naive AS (
        SELECT event_type, CAST(SUM(n) AS BIGINT) // COUNT(*) AS fc
        FROM train GROUP BY 1
    ), scored AS (
        SELECT t.event_type,
               ABS(t.n - COALESCE(s.fc, nv.fc)) AS err_seasonal,
               ABS(t.n - nv.fc) AS err_naive
        FROM test t
        JOIN naive nv ON nv.event_type = t.event_type
        LEFT JOIN seasonal s ON s.event_type = t.event_type
                            AND s.weekday = (t.day + 3) % 7
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_test_days,
           (1000 * CAST(SUM(err_seasonal) AS BIGINT)) // COUNT(*)
               AS seasonal_mae_milli,
           (1000 * CAST(SUM(err_naive) AS BIGINT)) // COUNT(*)
               AS naive_mae_milli
    FROM scored
    GROUP BY event_type
    ORDER BY event_type
    """)
def q_seasonal_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: hold out the last
    {BACKTEST_DAYS} days per event type, predict each held-out day's
    event count with the training mean of its weekday (falling back to
    the overall training mean for unseen weekdays), and report the MAE
    against the plain-mean naive baseline — the minimal honest
    forecasting loop (train/test split, seasonal model, baseline
    comparison) with every statistic in integer milli-units.

    Scale: the raw stream collapses to (type, day) counts once; the
    split point is a broadcast scalar; seasonal/naive models are tiny
    aggregates of the training slice; scoring joins days-sized frames.
    Integer floor-division means end to end — identical in both
    engines."""
    ev = table(spark, sf_dir, "events")
    daily = (ev.select("event_type",
                       F.expr(f"CAST(us div {US_PER_DAY} AS BIGINT)")
                       .alias("day"))
             .groupBy("event_type", "day")
             .agg(F.count("*").cast("long").alias("n")))
    split = daily.agg((F.max("day") - BACKTEST_DAYS + 1).alias("cut"))
    with_cut = daily.crossJoin(F.broadcast(split))
    train = with_cut.filter(F.col("day") < F.col("cut")).drop("cut")
    test = with_cut.filter(F.col("day") >= F.col("cut")).drop("cut")
    seasonal = (train.withColumn("weekday", F.expr("(day + 3) % 7"))
                .groupBy("event_type", "weekday")
                .agg(F.expr("CAST(SUM(n) AS BIGINT) div COUNT(*)")
                     .alias("fc_s")))
    naive = (train.groupBy("event_type")
             .agg(F.expr("CAST(SUM(n) AS BIGINT) div COUNT(*)")
                  .alias("fc_n")))
    scored = (test.withColumn("weekday", F.expr("(day + 3) % 7"))
              .join(F.broadcast(naive), "event_type")
              .join(F.broadcast(seasonal), ["event_type", "weekday"],
                    "left")
              .select("event_type",
                      F.abs(F.col("n")
                            - F.coalesce("fc_s", "fc_n"))
                      .alias("err_seasonal"),
                      F.abs(F.col("n") - F.col("fc_n"))
                      .alias("err_naive")))
    return (scored.groupBy("event_type")
            .agg(F.count("*").cast("long").alias("n_test_days"),
                 F.expr("(1000 * CAST(SUM(err_seasonal) AS BIGINT))"
                        " div COUNT(*)").alias("seasonal_mae_milli"),
                 F.expr("(1000 * CAST(SUM(err_naive) AS BIGINT))"
                        " div COUNT(*)").alias("naive_mae_milli"))
            .orderBy("event_type"))


# ---------------------------------------------------------------------------
# Burstiness (index of dispersion)
# ---------------------------------------------------------------------------


@register(
    "q_burstiness",
    oracle=f"""
    WITH daily AS (
        SELECT event_type,
               CAST(epoch_us(ts) // {US_PER_DAY} AS BIGINT) AS day,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(x) AS BIGINT) AS n_events,
           (1000 * CAST(SUM(x) AS BIGINT)) // COUNT(*) AS mean_milli,
           CAST((1000 * (COUNT(*) * CAST(SUM(CAST(x AS HUGEINT) * x)
                                         AS HUGEINT)
                         - CAST(SUM(x) AS HUGEINT) * SUM(x)))
                // (CAST(SUM(x) AS HUGEINT) * (COUNT(*) - 1)) AS BIGINT)
               AS fano_milli
    FROM daily
    GROUP BY event_type
    ORDER BY event_type
    """)
def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness of each event type: the index of dispersion (Fano
    factor, sample variance over mean) of its daily counts in exact
    integer milli-units — 1000 means Poisson-like arrivals, far above
    means bursty/campaign-driven traffic, far below means throttled or
    quota-shaped flow. Variance never materializes as a float: the
    statistic is the rational (n*Sum(x^2) - T^2) / (T*(n-1)) on 128-bit
    lanes.

    Scale: one scan to (type, day) counts, then a |types|-row moment
    aggregate — the same fused-moment pattern as q_column_profile."""
    ev = table(spark, sf_dir, "events")
    daily = (ev.select("event_type",
                       F.expr(f"CAST(us div {US_PER_DAY} AS BIGINT)")
                       .alias("day"))
             .groupBy("event_type", "day")
             .agg(F.count("*").cast("long").alias("x")))
    return (daily.groupBy("event_type")
            .agg(F.count("*").cast("long").alias("n_days"),
                 F.sum("x").cast("long").alias("n_events"),
                 F.expr("(1000 * CAST(SUM(x) AS BIGINT)) div COUNT(*)")
                 .alias("mean_milli"),
                 F.expr(
                     "CAST((1000 * (COUNT(*)"
                     " * CAST(SUM(CAST(x AS DECIMAL(38,0)) * x)"
                     "        AS DECIMAL(38,0))"
                     " - CAST(SUM(x) AS DECIMAL(38,0)) * SUM(x)))"
                     " div (CAST(SUM(x) AS DECIMAL(38,0)) * (COUNT(*) - 1))"
                     " AS BIGINT)").alias("fano_milli"))
            .orderBy("event_type"))


# ---------------------------------------------------------------------------
# Integer Haar decomposition (energy by scale)
# ---------------------------------------------------------------------------


@register(
    "q_haar_levels",
    oracle=f"""
    WITH daily AS (
        SELECT event_type,
               CAST(epoch_us(ts) // {US_PER_DAY} AS BIGINT) AS day,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ), idx AS (
        SELECT event_type, x,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) - 1
                   AS i,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM daily
    ), used AS (
        SELECT event_type, x, i FROM idx WHERE i < 4 * (n // 4)
    ), l1 AS (
        SELECT event_type, i // 2 AS j,
               CAST(SUM(x) AS BIGINT) AS s1,
               CAST(SUM(x * (1 - 2 * (i % 2))) AS BIGINT) AS d1
        FROM used GROUP BY 1, 2
    ), l2 AS (
        SELECT event_type, j // 2 AS k,
               CAST(SUM(s1) AS BIGINT) AS s2,
               CAST(SUM(s1 * (1 - 2 * (j % 2))) AS BIGINT) AS d2
        FROM l1 GROUP BY 1, 2
    )
    SELECT u.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days_used,
           CAST(SUM(u.x) AS BIGINT) AS total,
           (SELECT CAST(SUM(s2) AS BIGINT) FROM l2
            WHERE l2.event_type = u.event_type) AS coarse_sum,
           (SELECT CAST(SUM(ABS(d1)) AS BIGINT) FROM l1
            WHERE l1.event_type = u.event_type) AS detail1_abs,
           (SELECT CAST(SUM(ABS(d2)) AS BIGINT) FROM l2
            WHERE l2.event_type = u.event_type) AS detail2_abs
    FROM used u
    GROUP BY u.event_type
    ORDER BY u.event_type
    """)
def q_haar_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level INTEGER Haar decomposition of each event type's daily
    series: unnormalized pair sums/differences (s = a+b, d = a-b — the
    lossless integer wavelet, no sqrt(2) normalization), reported as
    energy-by-scale — day-to-day detail (|d1|), two-day-scale detail
    (|d2|), and the 4-day coarse sums whose total must equal the raw
    total EXACTLY (the losslessness invariant the test pins). High
    |d1|/total = jittery daily traffic; high |d2| = multi-day swings —
    the scale-decomposed cousin of q_burstiness.

    Scale: pairing is by per-type row index (one keyed exchange), each
    level is a halved-size hash aggregate; series length is days, so
    every frame is tiny after the first collapse."""
    ev = table(spark, sf_dir, "events")
    daily = (ev.select("event_type",
                       F.expr(f"CAST(us div {US_PER_DAY} AS BIGINT)")
                       .alias("day"))
             .groupBy("event_type", "day")
             .agg(F.count("*").cast("long").alias("x")))
    wt = Window.partitionBy("event_type")
    idx = (daily
           .withColumn("i", F.row_number().over(wt.orderBy("day")) - 1)
           .withColumn("n", F.count("*").over(wt)))
    used = idx.filter(F.expr("i < 4 * (n div 4)"))
    l1 = (used.groupBy("event_type", F.expr("i div 2").alias("j"))
          .agg(F.sum("x").cast("long").alias("s1"),
               F.sum(F.expr("x * (1 - 2 * (i % 2))")).cast("long")
               .alias("d1")))
    l2 = (l1.groupBy("event_type", F.expr("j div 2").alias("k"))
          .agg(F.sum("s1").cast("long").alias("s2"),
               F.sum(F.expr("s1 * (1 - 2 * (j % 2))")).cast("long")
               .alias("d2")))
    base = (used.groupBy("event_type")
            .agg(F.count("*").cast("long").alias("n_days_used"),
                 F.sum("x").cast("long").alias("total")))
    agg1 = l1.groupBy("event_type").agg(
        F.sum(F.abs("d1")).cast("long").alias("detail1_abs"))
    agg2 = l2.groupBy("event_type").agg(
        F.sum("s2").cast("long").alias("coarse_sum"),
        F.sum(F.abs("d2")).cast("long").alias("detail2_abs"))
    return (base.join(agg2, "event_type").join(agg1, "event_type")
            .select("event_type", "n_days_used", "total", "coarse_sum",
                    "detail1_abs", "detail2_abs")
            .orderBy("event_type"))


# ---------------------------------------------------------------------------
# CUSUM change-point detection
# ---------------------------------------------------------------------------


@register(
    "q_cusum_changepoint",
    oracle=f"""
    WITH daily AS (
        SELECT event_type,
               CAST(epoch_us(ts) // {US_PER_DAY} AS BIGINT) AS day,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ), tot AS (
        SELECT event_type, CAST(SUM(x) AS BIGINT) AS t,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM daily GROUP BY event_type
    ), cusum AS (
        SELECT d.event_type, d.day,
               CAST(SUM(CAST(d.x AS HUGEINT) * t.n - t.t) OVER (
                   PARTITION BY d.event_type ORDER BY d.day) AS HUGEINT)
                   AS c,
               t.t, t.n
        FROM daily d JOIN tot t USING (event_type)
    )
    SELECT event_type, day AS change_day,
           CAST((1000 * ABS(c)) // (CAST(t AS HUGEINT) * n) AS BIGINT)
               AS magnitude_permille
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY event_type ORDER BY ABS(c) DESC, day) AS rk
        FROM cusum
    ) WHERE rk = 1
    ORDER BY event_type
    """)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection: for each event type, the day where
    the cumulative deviation from the series mean peaks — the classic
    single-change-point locator (the CUSUM path drifts up before a
    level drop and down before a rise; its extremum is the most likely
    break). Deviations are kept exact by scaling: c_k = Sum(x_i*n - T)
    (every term integer — the mean never materializes as a float), and
    the reported magnitude is |c_peak| / (T*n) in permille.

    Scale: the series collapses to (type, day) first; the cumulative
    window and the argmax rank share one type-keyed exchange over
    days-sized partitions. 128-bit lanes."""
    ev = table(spark, sf_dir, "events")
    daily = (ev.select("event_type",
                       F.expr(f"CAST(us div {US_PER_DAY} AS BIGINT)")
                       .alias("day"))
             .groupBy("event_type", "day")
             .agg(F.count("*").cast("long").alias("x")))
    tot = daily.groupBy("event_type").agg(
        F.sum("x").cast("long").alias("t"),
        F.count("*").cast("long").alias("n"))
    wt = Window.partitionBy("event_type")
    cusum = (daily.join(F.broadcast(tot), "event_type")
             .withColumn("c", F.sum(
                 F.expr("CAST(x AS DECIMAL(38,0)) * n - t"))
                 .over(wt.orderBy("day")
                       .rowsBetween(Window.unboundedPreceding, 0))))
    return (cusum
            .withColumn("rk", F.row_number().over(
                wt.orderBy(F.abs("c").desc(), "day")))
            .filter(F.col("rk") == 1)
            .select("event_type", F.col("day").alias("change_day"),
                    F.expr("CAST((1000 * ABS(c))"
                           " div (CAST(t AS DECIMAL(38,0)) * n) AS BIGINT)")
                    .alias("magnitude_permille"))
            .orderBy("event_type"))


# ---------------------------------------------------------------------------
# Empirical tail risk (VaR + expected shortfall)
# ---------------------------------------------------------------------------

VAR_PCT = 5  # 5th percentile of daily changes = 95% VaR


@register(
    "q_tail_risk",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // {US_PER_DAY} AS BIGINT) AS day,
               CAST(SUM({_VCENTS}) AS BIGINT) AS rev
        FROM events GROUP BY 1
    ), diffs AS (
        SELECT day, rev - lag(rev) OVER (ORDER BY day) AS d
        FROM daily
    ), dd AS (SELECT day, d FROM diffs WHERE d IS NOT NULL),
    ranked AS (
        SELECT d, ROW_NUMBER() OVER (ORDER BY d, day) AS rn,
               COUNT(*) OVER () AS n
        FROM dd
    ), var AS (
        SELECT d AS var_cents, n FROM ranked
        WHERE rn = 1 + ((n - 1) * {VAR_PCT}) // 100
    )
    SELECT v.n AS n_days, v.var_cents,
           CAST(SUM(r.d) AS BIGINT) // COUNT(*) AS es_cents
    FROM ranked r CROSS JOIN var v
    WHERE r.d <= v.var_cents
    GROUP BY v.n, v.var_cents
    """)
def q_tail_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical tail risk of the daily revenue stream: the 95% VaR
    (nearest-rank {VAR_PCT}th percentile of day-over-day revenue
    changes, exact cents) and the expected shortfall (the mean of
    changes at or beyond VaR — the coherent risk measure regulators
    prefer, here an exact integer floor-mean). The day-over-day LAG
    rides the tiny daily aggregate; the tail mean is a filtered
    aggregate against the broadcast VaR scalar.

    Scale: the raw stream collapses to |days| rows first; the only
    full-width work is one scan + hash aggregate."""
    ev = table(spark, sf_dir, "events")
    daily = (ev.select(F.expr(f"CAST(us div {US_PER_DAY} AS BIGINT)")
                       .alias("day"),
                       F.expr(_VCENTS).alias("cents"))
             .groupBy("day").agg(F.sum("cents").cast("long").alias("rev")))
    w = Window.orderBy("day")
    dd = (daily.withColumn("d", F.col("rev") - F.lag("rev").over(w))
          .filter(F.col("d").isNotNull()))
    wr = Window.orderBy("d", "day")
    ranked = (dd.withColumn("rn", F.row_number().over(wr))
              .withColumn("n", F.count("*").over(
                  Window.partitionBy())))
    var = (ranked.filter(F.expr(f"rn = 1 + ((n - 1) * {VAR_PCT}) div 100"))
           .select(F.col("d").alias("var_cents"),
                   F.col("n").alias("n_days")))
    return (ranked.drop("n").crossJoin(F.broadcast(var))
            .filter(F.col("d") <= F.col("var_cents"))
            .groupBy("n_days", "var_cents")
            .agg(F.expr("CAST(SUM(d) AS BIGINT) div COUNT(*)")
                 .alias("es_cents"))
            .select("n_days", "var_cents", "es_cents"))


# ---------------------------------------------------------------------------
# Rolling z-score anomaly (variance-aware, float-free)
# ---------------------------------------------------------------------------

Z_K2 = 9  # flag when z^2 > 9 (|z| > 3)
Z_WIN = 7  # trailing observed days


@register(
    "q_rolling_zscore",
    oracle=f"""
    WITH daily AS (
        SELECT event_type,
               CAST(epoch_us(ts) // {US_PER_DAY} AS BIGINT) AS day,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ), trail AS (
        SELECT event_type, day, x,
               CAST(SUM(x) OVER w AS BIGINT) AS s,
               CAST(SUM(CAST(x AS HUGEINT) * x) OVER w AS HUGEINT) AS s2,
               CAST(COUNT(*) OVER w AS BIGINT) AS n
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN {Z_WIN} PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, day, x, s AS trail_sum, n AS trail_n
    FROM trail
    WHERE n >= 3
      AND CAST(n * x - s AS HUGEINT) * (n * x - s)
          > {Z_K2} * (n * s2 - CAST(s AS HUGEINT) * s)
    ORDER BY event_type, day
    """)
def q_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-aware rolling anomaly detection: a day is flagged when
    its count sits more than 3 trailing standard deviations from the
    trailing-{Z_WIN}-day mean — with the z² > {Z_K2} test restated as
    the integer cross-multiplication (n·x − Σ)² > {Z_K2}·(n·Σx² − Σ²),
    so neither the mean, the variance, nor any square root ever
    materializes as a float (the mean/stddev complement of
    q_mad_outliers' median/MAD and q_rate_anomaly's plain-average
    band).

    Scale: the trailing window rides the already-aggregated (type, day)
    table on one type-keyed exchange; 128-bit lanes."""
    ev = table(spark, sf_dir, "events")
    daily = (ev.select("event_type",
                       F.expr(f"CAST(us div {US_PER_DAY} AS BIGINT)")
                       .alias("day"))
             .groupBy("event_type", "day")
             .agg(F.count("*").cast("long").alias("x")))
    w = (Window.partitionBy("event_type").orderBy("day")
         .rowsBetween(-Z_WIN, -1))
    trail = (daily
             .withColumn("s", F.sum("x").over(w).cast("long"))
             .withColumn("s2", F.sum(F.expr(
                 "CAST(x AS DECIMAL(38,0)) * x")).over(w)
                 .cast("decimal(38,0)"))
             .withColumn("n", F.count("*").over(w).cast("long")))
    return (trail
            .filter(F.expr(
                f"n >= 3 AND CAST(n * x - s AS DECIMAL(38,0))"
                f" * (n * x - s)"
                f" > {Z_K2} * (n * s2 - CAST(s AS DECIMAL(38,0)) * s)"))
            .select("event_type", "day", "x",
                    F.col("s").alias("trail_sum"),
                    F.col("n").alias("trail_n"))
            .orderBy("event_type", "day"))


# ---------------------------------------------------------------------------
# Exact OLS trend line per event type
# ---------------------------------------------------------------------------


@register(
    "q_ols_trend",
    oracle=f"""
    WITH daily AS (
        SELECT event_type,
               CAST(epoch_us(ts) // {US_PER_DAY} AS BIGINT) AS day,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ), idx AS (
        SELECT event_type,
               day - MIN(day) OVER (PARTITION BY event_type) AS i,
               x
        FROM daily
    ), m AS (
        SELECT event_type,
               CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(i) AS HUGEINT) AS sx,
               CAST(SUM(x) AS HUGEINT) AS sy,
               CAST(SUM(CAST(i AS HUGEINT) * i) AS HUGEINT) AS sxx,
               CAST(SUM(CAST(i AS HUGEINT) * x) AS HUGEINT) AS sxy,
               CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS syy
        FROM idx GROUP BY event_type HAVING COUNT(*) >= 2
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_days,
           CAST(CASE WHEN n * sxy - sx * sy >= 0
                     THEN (1000 * (n * sxy - sx * sy))
                          // (n * sxx - sx * sx)
                     ELSE -((1000 * (sx * sy - n * sxy))
                            // (n * sxx - sx * sx)) END
                AS BIGINT) AS slope_milli,
           CAST(CASE WHEN sy * sxx - sx * sxy >= 0
                     THEN (1000 * (sy * sxx - sx * sxy))
                          // (n * sxx - sx * sx)
                     ELSE -((1000 * (sx * sxy - sy * sxx))
                            // (n * sxx - sx * sx)) END
                AS BIGINT) AS intercept_milli,
           CAST(CASE WHEN n * syy - sy * sy = 0 THEN NULL
                     ELSE (1000 * (n * sxy - sx * sy) * (n * sxy - sx * sy))
                          // ((n * sxx - sx * sx) * (n * syy - sy * sy)) END
                AS BIGINT) AS r2_permille
    FROM m
    ORDER BY event_type
    """)
def q_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact least-squares trend line of each event type's daily volume:
    slope (events/day/1000), intercept (fitted day-0 level, milli) and
    R-squared (permille) — the is-this-series-growing statistic behind
    capacity forecasts and trend alerts, computed WITHOUT floats. The
    normal equations stay rational: slope = (n*Sxy - Sx*Sy)/(n*Sxx -
    Sx^2) on 128-bit lanes, and because DuckDB's `//` floors while
    Spark's `div` truncates, every division runs on the non-negative
    magnitude with the sign applied outside — identical in both engines
    for negative slopes too.

    Scale: one scan to (type, day) counts, the day re-index rides a
    |types|-keyed window on the already-aggregated daily table, then a
    |types|-row moment aggregate — same fused-moment shape as
    q_burstiness/q_column_profile. No per-row state beyond 6 integer
    accumulators per group, all map-side combining."""
    ev = table(spark, sf_dir, "events")
    daily = (ev.select("event_type",
                       F.expr(f"CAST(us div {US_PER_DAY} AS BIGINT)")
                       .alias("day"))
             .groupBy("event_type", "day")
             .agg(F.count("*").cast("long").alias("x")))
    wt = Window.partitionBy("event_type")
    idx = daily.select("event_type",
                       (F.col("day") - F.min("day").over(wt)).alias("i"),
                       "x")
    D = "DECIMAL(38,0)"
    m = (idx.groupBy("event_type")
         .agg(F.expr(f"CAST(COUNT(*) AS {D})").alias("n"),
              F.expr(f"CAST(SUM(i) AS {D})").alias("sx"),
              F.expr(f"CAST(SUM(x) AS {D})").alias("sy"),
              F.expr(f"CAST(SUM(CAST(i AS {D}) * i) AS {D})").alias("sxx"),
              F.expr(f"CAST(SUM(CAST(i AS {D}) * x) AS {D})").alias("sxy"),
              F.expr(f"CAST(SUM(CAST(x AS {D}) * x) AS {D})").alias("syy"))
         .filter(F.expr("n >= 2")))
    return (m.select(
        "event_type",
        F.expr("CAST(n AS BIGINT)").alias("n_days"),
        F.expr(
            "CAST(CASE WHEN n * sxy - sx * sy >= 0"
            " THEN (1000 * (n * sxy - sx * sy)) div (n * sxx - sx * sx)"
            " ELSE -((1000 * (sx * sy - n * sxy))"
            "        div (n * sxx - sx * sx)) END AS BIGINT)")
        .alias("slope_milli"),
        F.expr(
            "CAST(CASE WHEN sy * sxx - sx * sxy >= 0"
            " THEN (1000 * (sy * sxx - sx * sxy)) div (n * sxx - sx * sx)"
            " ELSE -((1000 * (sx * sxy - sy * sxx))"
            "        div (n * sxx - sx * sx)) END AS BIGINT)")
        .alias("intercept_milli"),
        F.expr(
            "CAST(CASE WHEN n * syy - sy * sy = 0 THEN NULL"
            " ELSE (1000 * (n * sxy - sx * sy) * (n * sxy - sx * sy))"
            "      div ((n * sxx - sx * sx) * (n * syy - sy * sy)) END"
            " AS BIGINT)")
        .alias("r2_permille"))
        .orderBy("event_type"))


# ---------------------------------------------------------------------------
# Clamped running inventory (Lindley recursion, fully declarative)
# ---------------------------------------------------------------------------

INV_TOP = 15


@register(
    "q_inventory_clamped",
    oracle=f"""
    WITH flows AS (
        SELECT l_partkey AS part, CAST(l_shipdate AS DATE) AS day,
               CAST(SUM(CASE WHEN l_returnflag = 'R'
                             THEN CAST(l_quantity AS BIGINT)
                             ELSE -CAST(l_quantity AS BIGINT) END)
                    AS BIGINT) AS d
        FROM lineitem GROUP BY 1, 2
    ), sums AS (
        SELECT part, day,
               SUM(d) OVER (PARTITION BY part ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS s
        FROM flows
    ), stock AS (
        SELECT part, day,
               s - LEAST(MIN(s) OVER (PARTITION BY part ORDER BY day
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW), 0) AS w
        FROM sums
    )
    SELECT part,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(MAX(w) AS BIGINT) AS peak_stock,
           CAST(arg_max(w, day) AS BIGINT) AS final_stock,
           CAST(SUM(CASE WHEN w = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS stockout_days
    FROM stock
    GROUP BY part
    ORDER BY stockout_days DESC, part
    LIMIT {INV_TOP}
    """)
def q_inventory_clamped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clamped running inventory per part — stock(t) = max(0,
    stock(t-1) + net_flow(t)) with returns restocking and shipments
    drawing down. The recurrence LOOKS inherently sequential (each day
    depends on the clamped previous day), which usually sends engines
    to per-row UDAFs or driver loops; Lindley's identity from queueing
    theory solves it in closed form over plain windows:
    W_n = S_n − min(0, min_{{k≤n}} S_k) (running sum minus the clamped
    running minimum of the running sum). Two nested window passes, one
    partition exchange, whole-stage codegen throughout — the pattern to
    reach for whenever a clamp/absorbing-barrier recurrence shows up
    (queue depth, battery charge, capped budgets).

    Scale: both windows share the per-part exchange; daily flows
    pre-aggregate map-side so the window input is |parts|·|days|, not
    line items. Report: the parts that stock out most."""
    li = table(spark, sf_dir, "lineitem")
    flows = (li.groupBy(
        F.col("l_partkey").alias("part"),
        F.col("l_shipdate").cast("date").alias("day"))
        .agg(F.sum(F.expr(
            "CASE WHEN l_returnflag = 'R'"
            " THEN CAST(l_quantity AS BIGINT)"
            " ELSE -CAST(l_quantity AS BIGINT) END"))
            .cast("long").alias("d")))
    w = (Window.partitionBy("part").orderBy("day")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    runs = (flows
            .withColumn("s", F.sum("d").over(w))
            .withColumn("mn", F.least(F.min(F.col("s")).over(w),
                                      F.lit(0))))
    stock = runs.select("part", "day",
                        (F.col("s") - F.col("mn")).alias("w"))
    return (stock.groupBy("part")
            .agg(F.count("*").cast("long").alias("n_days"),
                 F.max("w").cast("long").alias("peak_stock"),
                 F.max_by("w", "day").cast("long").alias("final_stock"),
                 F.sum(F.when(F.col("w") == 0, 1).otherwise(0))
                 .cast("long").alias("stockout_days"))
            .orderBy(F.desc("stockout_days"), "part")
            .limit(INV_TOP))


# ---------------------------------------------------------------------------
# Theil-Sen robust trend (median of pairwise slopes, quantized integer)
# ---------------------------------------------------------------------------


@register(
    "q_theilsen_trend",
    oracle="""
    WITH daily AS (
        SELECT CAST(l_shipdate AS DATE) - DATE '1992-01-01' AS x,
               CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                    AS BIGINT)) AS BIGINT) AS y_c
        FROM lineitem GROUP BY 1
    ), pairs AS (
        SELECT a.x AS x1, b.x AS x2,
               (1000 * (b.y_c - a.y_c)) // (b.x - a.x) AS slope_milli
        FROM daily a JOIN daily b ON b.x > a.x
    ), med AS (
        SELECT slope_milli FROM (
            SELECT slope_milli,
                   row_number() OVER (ORDER BY slope_milli) AS rn,
                   COUNT(*) OVER () AS n
            FROM pairs)
        WHERE rn = (n + 1) // 2
    ), ols AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(x) AS HUGEINT) AS sx,
               CAST(SUM(y_c) AS HUGEINT) AS sy,
               CAST(SUM(CAST(x AS HUGEINT) * y_c) AS HUGEINT) AS sxy,
               CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
        FROM daily
    )
    SELECT CAST(o.n AS BIGINT) AS n_days,
           CAST((o.n * (o.n - 1)) // 2 AS BIGINT) AS n_pairs,
           m.slope_milli AS theilsen_slope_milli,
           CAST(CASE WHEN o.n * o.sxy - o.sx * o.sy >= 0
                     THEN (1000 * (o.n * o.sxy - o.sx * o.sy))
                          // (o.n * o.sxx - o.sx * o.sx)
                     ELSE -((1000 * (o.sx * o.sy - o.n * o.sxy))
                            // (o.n * o.sxx - o.sx * o.sx)) END
                AS BIGINT) AS ols_slope_milli
    FROM ols o, med m
    """)
def q_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily revenue: the median of all
    pairwise slopes — a 29%-breakdown-point estimator an outlier day
    cannot drag the way it drags OLS (reported side by side, integer
    milli-cents/day, slopes quantized by integer division so both
    engines rank identically).

    Scale: the O(n²) pair join runs on the DAY-AGGREGATED series —
    bounded by the calendar (|days|² pairs), NOT by row count, so 100 TB
    of line items still yields the same few-thousand-pair join after the
    one combiner-friendly daily rollup. The median is one
    TakeOrdered-style rank pick; OLS sufficient statistics ride the same
    daily frame."""
    li = table(spark, sf_dir, "lineitem")
    daily = (li.groupBy(F.expr(
        "datediff(CAST(l_shipdate AS DATE), DATE '1992-01-01')")
        .alias("x"))
        .agg(F.sum(F.expr(
            "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100"
            " AS BIGINT)")).cast("long").alias("y_c")))
    a = daily.select(F.col("x").alias("x1"), F.col("y_c").alias("y1"))
    b = daily.select(F.col("x").alias("x2"), F.col("y_c").alias("y2"))
    pairs = (a.join(b, F.col("x2") > F.col("x1"))
             .select(F.expr("(1000 * (y2 - y1)) DIV (x2 - x1)")
                     .alias("slope_milli")))
    from pyspark.sql.window import Window as W
    med = (pairs
           .withColumn("rn", F.row_number().over(
               W.orderBy("slope_milli")))
           .withColumn("n", F.count("*").over(
               W.partitionBy(F.lit(1))))
           .filter(F.col("rn") == F.expr("(n + 1) DIV 2"))
           .select("slope_milli"))
    D = "DECIMAL(38,0)"
    ols = daily.agg(
        F.expr(f"CAST(COUNT(*) AS {D})").alias("n"),
        F.expr(f"CAST(SUM(x) AS {D})").alias("sx"),
        F.expr(f"CAST(SUM(y_c) AS {D})").alias("sy"),
        F.expr(f"CAST(SUM(CAST(x AS {D}) * y_c) AS {D})").alias("sxy"),
        F.expr(f"CAST(SUM(CAST(x AS {D}) * x) AS {D})").alias("sxx"))
    # int64 overflows on n*sxy at sf>=0.1 — the sufficient statistics
    # ride DECIMAL(38,0) (HUGEINT in the oracle), division sign-split
    # per the pinned cross-engine integer-division contract.
    return (ols.crossJoin(F.broadcast(med))
            .select(
                F.expr("CAST(n AS BIGINT)").alias("n_days"),
                F.expr("CAST((n * (n - 1)) DIV 2 AS BIGINT)")
                .alias("n_pairs"),
                F.col("slope_milli").alias("theilsen_slope_milli"),
                F.expr(
                    "CAST(CASE WHEN n * sxy - sx * sy >= 0"
                    " THEN (1000 * (n * sxy - sx * sy))"
                    "      div (n * sxx - sx * sx)"
                    " ELSE -((1000 * (sx * sy - n * sxy))"
                    "        div (n * sxx - sx * sx)) END AS BIGINT)")
                .alias("ols_slope_milli")))
