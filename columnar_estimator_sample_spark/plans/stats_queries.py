"""Oracle-checked queries for the statistics module.

The catalog itself (plans/stats.py) is API, not a query; what the
differential gate can verify is the *exact* NDV ground truth the sketches
approximate, expressed as a relational query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from columnar_estimator_sample_spark.registry import register
from columnar_estimator_sample_spark.sources.tables import table

# (table, column) pairs mirroring the reference's vocab_size catalog role:
# the distinct-count-per-categorical-column inventory (trainer.py:91-118).
_NDV_COLUMNS = [
    ("customer", "c_mktsegment"),
    ("customer", "c_nationkey"),
    ("orders", "o_orderstatus"),
    ("orders", "o_orderpriority"),
    ("lineitem", "l_returnflag"),
    ("lineitem", "l_linestatus"),
    ("part", "p_brand"),
    ("part", "p_type"),
    ("nation", "n_name"),
    ("events", "event_type"),
    ("documents", "lang"),
    ("documents", "source"),
]


@register(
    "q_ndv_catalog",
    oracle="\nUNION ALL\n".join(
        f"SELECT '{t}' AS table_name, '{c}' AS column_name,"
        f" COUNT(DISTINCT {c}) AS ndv, COUNT(*) AS n_rows FROM {t}"
        for t, c in _NDV_COLUMNS
    ) + "\nORDER BY table_name, column_name",
)
def q_ndv_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact NDV catalog over the categorical columns of the testdata —
    the exact ground truth that ``plans.stats.ndv_catalog``'s
    DataSketches HLL sketches estimate."""
    parts = []
    for t, c in _NDV_COLUMNS:
        parts.append(
            table(spark, sf_dir, t).agg(
                F.lit(t).alias("table_name"),
                F.lit(c).alias("column_name"),
                F.countDistinct(c).alias("ndv"),
                F.count(F.lit(1)).alias("n_rows"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("table_name", "column_name")


# ---------------------------------------------------------------------------
# Row-count-driven broadcast join (the injected Catalyst rule, dogfooded)
# ---------------------------------------------------------------------------

@register(
    "q_ndv_broadcast_join",
    oracle="""
    SELECT r_name AS region_name, n_name AS nation_name,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(27,4))) AS DOUBLE)
               AS total_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q_ndv_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Un-hinted star join whose build-side selection comes from row
    counts, not file-size heuristics. Under an extension-loaded session
    (plans/jvm/, ``get_spark(ndv_extension=True)``) the injected rule
    reads the parquet footers of customer, nation and region and
    broadcasts nation and region even with autoBroadcastJoinThreshold=-1
    (plan-asserted in the fresh-JVM test). The build runs no Spark job;
    results are identical either way, which is what the oracle
    certifies."""
    cust = table(spark, sf_dir, "customer")
    nat = table(spark, sf_dir, "nation")
    reg = table(spark, sf_dir, "region")
    return (cust.join(nat, cust.c_nationkey == nat.n_nationkey)
            .join(reg, nat.n_regionkey == reg.r_regionkey)
            .groupBy(F.col("r_name").alias("region_name"),
                     F.col("n_name").alias("nation_name"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_customers"),
                 F.sum(F.col("c_acctbal").cast("decimal(27,4)"))
                  .cast("double").alias("total_acctbal"))
            .orderBy("region_name", "nation_name"))


# ---------------------------------------------------------------------------
# Column-profile correlation matrix
# ---------------------------------------------------------------------------

# The numeric lineitem measures, scaled to exact cents (2 decimals).
_CORR_COLS = [("quantity", "l_quantity"), ("extendedprice", "l_extendedprice"),
              ("discount", "l_discount"), ("tax", "l_tax")]


_TWO40 = 1_099_511_627_776  # 2^40


def _i2d(q: str, dialect: str) -> str:
    """Convert a big exact DECIMAL integer to double with IDENTICAL bits
    in both engines. A direct CAST of a >2^53 integer is the one step
    engines may round differently (DuckDB's int128 path vs Spark's
    decimal path — observed 1-ulp disagreements, amplified by the
    cancellation in n*Sxy - Sx*Sy). Splitting at 2^40 makes every cast
    exact (both halves < 2^53), the power-of-two multiply exact, and the
    single add correctly rounded — so both engines produce the same
    double by IEEE semantics, not by implementation luck.

    Dialect note: integer division of a DECIMAL differs — Spark ``DIV``
    is true integral division, but DuckDB ``decimal // int`` is a DOUBLE
    division in disguise (returns 48839.7...), so the DuckDB side must
    hop through HUGEINT first."""
    if dialect == "spark":
        hi = f"ABS({q}) DIV {_TWO40}"
    else:
        hi = f"CAST(ABS({q}) AS HUGEINT) // {_TWO40}"
    return (f"(CASE WHEN {q} < 0 THEN -1.0E0 ELSE 1.0E0 END)"
            f" * (CAST({hi} AS DOUBLE) * {_TWO40}"
            f" + CAST(ABS({q}) % {_TWO40} AS DOUBLE))")


def _corr_sql(table_expr: str, dialect: str) -> str:
    """One SQL body for BOTH engines (modulo the _i2d dialect): Pearson correlation of every column
    pair from exact integer sums. All accumulation is integer/decimal —
    bit-exact across engines, with decimal widths sized so no
    intermediate exceeds 38 digits (DuckDB's multiply requires
    w1+w2 <= 38) — and the covariance numerators n*Sxy - Sx*Sy are
    computed exactly in decimal BEFORE any float appears. The only
    float steps are the exact hi/lo conversions (_i2d) and one fixed
    sqrt-and-divide tree per pair, identical in both engines."""
    names = [n for n, _ in _CORR_COLS]
    scaled = ",\n               ".join(
        f"CAST(CAST({c} AS DECIMAL(18,2)) * 100 AS BIGINT) AS {n}"
        for n, c in _CORR_COLS)
    # width 19, not 16: DuckDB keeps products of <=18-wide decimals on the
    # int64 fast path (runtime overflow); >18 forces exact int128.
    sums = ",\n               ".join(
        f"CAST(SUM({n}) AS DECIMAL(19,0)) AS s_{n}" for n in names)
    prods = ",\n               ".join(
        f"CAST(SUM(CAST({a} * {b} AS DECIMAL(27,0))) AS DECIMAL(27,0))"
        f" AS sp_{a}_{b}"
        for i, a in enumerate(names) for b in names[i:])

    def moment(a: str, b: str) -> str:
        # n(10)*sp(27) -> 37 digits; s(16)*s(16) -> 32; difference -> 38.
        key = f"{a}_{b}" if names.index(a) <= names.index(b) else f"{b}_{a}"
        return (f"(CAST(n * sp_{key} AS DECIMAL(37,0))"
                f" - CAST(s_{a} * s_{b} AS DECIMAL(37,0)))")

    pair_sel = []
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            pair_sel.append(f"""
        SELECT '{a}' AS col_x, '{b}' AS col_y, CAST(n AS BIGINT) AS n,
               {_i2d(moment(a, b), dialect)}
               / sqrt({_i2d(moment(a, a), dialect)}
                      * {_i2d(moment(b, b), dialect)}) AS r
        FROM agg""")
    union = "\n        UNION ALL".join(pair_sel)
    return f"""
    WITH scaled AS (
        SELECT {scaled}
        FROM {table_expr}
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS DECIMAL(10,0)) AS n,
               {sums},
               {prods}
        FROM scaled
    )
    SELECT * FROM ({union}
    ) ORDER BY col_x, col_y
    """


@register("q_corr_matrix", oracle=_corr_sql("lineitem", "duckdb"))
def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix of the lineitem numeric measures — the
    column-profiling report a warehouse emits next to its NDV catalog
    (and the input to feature-selection in the ML tier).

    One scan, one aggregate row: every pairwise correlation derives from
    n, sum(x), and sum(x*y) — 1 + 4 + 10 integer accumulators — so the
    100 TB cost is a single map-side-combinable pass with a one-row
    result regardless of data volume. Per-row products of cent-scaled
    int64s stay < 2^47; cross-row accumulation is decimal sized for
    sf1000 (see _corr_sql), and the float tail is the exactly-convertible
    hi/lo form (_i2d). The same SQL body runs on both engines."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "corr_lineitem_tmp")
    return spark.sql(_corr_sql("corr_lineitem_tmp", "spark"))


def _profile_sql(table_expr: str, dialect: str) -> str:
    """One SQL body for both engines: per-column profile (n, min, max,
    mean, sample stddev) of the cent-scaled lineitem measures. Mean and
    stddev reuse the exact-moment machinery: integer/decimal sums, _i2d
    conversion, then one fixed float tree — bit-identical cross-engine
    at any scale factor (see _corr_sql)."""
    names = [n for n, _ in _CORR_COLS]
    scaled = ",\n               ".join(
        f"CAST(CAST({c} AS DECIMAL(18,2)) * 100 AS BIGINT) AS {n}"
        for n, c in _CORR_COLS)
    sums = ",\n               ".join(
        f"CAST(SUM({n}) AS DECIMAL(19,0)) AS s_{n},"
        f" CAST(SUM(CAST({n} * {n} AS DECIMAL(27,0))) AS DECIMAL(27,0))"
        f" AS sp_{n}_{n},"
        f" MIN({n}) AS min_{n}, MAX({n}) AS max_{n}"
        for n in names)
    per_col = []
    for n in names:
        mom = (f"(CAST(n * sp_{n}_{n} AS DECIMAL(37,0))"
               f" - CAST(s_{n} * s_{n} AS DECIMAL(37,0)))")
        per_col.append(f"""
        SELECT '{n}' AS col_name, CAST(n AS BIGINT) AS n_rows,
               min_{n} AS min_cents, max_{n} AS max_cents,
               {_i2d(f"CAST(s_{n} AS DECIMAL(37,0))", dialect)}
                   / CAST(n AS DOUBLE) AS mean_cents,
               sqrt({_i2d(mom, dialect)}
                    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0E0)))
                   AS stddev_cents
        FROM agg""")
    union = "\n        UNION ALL".join(per_col)
    return f"""
    WITH scaled AS (
        SELECT {scaled}
        FROM {table_expr}
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS DECIMAL(10,0)) AS n,
               {sums}
        FROM scaled
    )
    SELECT * FROM ({union}
    ) ORDER BY col_name
    """


@register("q_column_profile", oracle=_profile_sql("lineitem", "duckdb"))
def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE-style column profile of the lineitem measures: count,
    min, max, exact mean, exact sample stddev per column — the one-pass
    summary a warehouse keeps next to its NDV catalog, with stddev from
    the same exact integer moments as q_corr_matrix (never a float
    accumulation over rows).

    Scale: one scan, 4x(2 sums + min + max) + count accumulators, all
    map-side combinable; output size is the column count. The float tail
    is the _i2d exact-conversion form, so both engines agree bit-for-bit
    at any SF."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "profile_lineitem_tmp")
    return spark.sql(_profile_sql("profile_lineitem_tmp", "spark"))


# ---------------------------------------------------------------------------
# Statistical tests & distribution profiles
# ---------------------------------------------------------------------------


def _chi2_sql() -> str:
    """Shared ANSI body: chi-square contribution per contingency cell of
    (l_returnflag x l_linestatus). All counts are exact integers; the
    expected value r*c/n and the contribution (o-e)^2/e are fixed double
    trees over <2^53 integers (exact casts, correctly-rounded ops), so
    each CELL is bit-identical cross-engine. No global float SUM is
    emitted: engines sum in different orders (DuckDB windows use segment
    trees), so the total is left to the consumer — per-cell rows are the
    deterministic surface."""
    return """
    WITH cells AS (
        SELECT l_returnflag AS flag, l_linestatus AS status,
               CAST(COUNT(*) AS BIGINT) AS obs
        FROM lineitem GROUP BY 1, 2
    ),
    rt AS (SELECT flag, CAST(SUM(obs) AS BIGINT) AS row_tot
           FROM cells GROUP BY flag),
    ct AS (SELECT status, CAST(SUM(obs) AS BIGINT) AS col_tot
           FROM cells GROUP BY status),
    nn AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM cells)
    SELECT c.flag AS flag, c.status AS status, c.obs AS obs,
           rt.row_tot AS row_tot, ct.col_tot AS col_tot,
           CAST(rt.row_tot AS DOUBLE) * CAST(ct.col_tot AS DOUBLE)
               / CAST(nn.n AS DOUBLE) AS expected,
           (CAST(c.obs AS DOUBLE)
            - CAST(rt.row_tot AS DOUBLE) * CAST(ct.col_tot AS DOUBLE)
              / CAST(nn.n AS DOUBLE))
           * (CAST(c.obs AS DOUBLE)
              - CAST(rt.row_tot AS DOUBLE) * CAST(ct.col_tot AS DOUBLE)
                / CAST(nn.n AS DOUBLE))
           / (CAST(rt.row_tot AS DOUBLE) * CAST(ct.col_tot AS DOUBLE)
              / CAST(nn.n AS DOUBLE)) AS contrib
    FROM cells c
    JOIN rt ON rt.flag = c.flag
    JOIN ct ON ct.status = c.status
    CROSS JOIN nn
    ORDER BY 1, 2
    """


@register("q_chi_square", oracle=_chi2_sql())
def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence for two categoricals, reported as
    the full contingency table with expected counts and per-cell
    contributions (chi2 = sum of contrib; dof = (R-1)(C-1) — the
    consumer's one fold, kept off the float-sum surface by design, see
    _chi2_sql).

    Scale: one scan to cell counts (|R x C| rows), row/column marginals
    aggregate the CELLS (never rescan the fact), and the marginal joins
    are broadcast-sized. The classic first screen for feature
    association ahead of the ML tier."""
    table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus").createOrReplaceTempView(
        "chi2_lineitem_tmp")
    return spark.sql(_chi2_sql().replace("FROM lineitem",
                                         "FROM chi2_lineitem_tmp"))


N_HIST_BINS = 20


def _hist_sql(idiv: str) -> str:
    return f"""
    WITH cents AS (
        SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS c
        FROM lineitem
    ),
    rng AS (SELECT MIN(c) AS mn, MAX(c) AS mx FROM cents)
    SELECT ((c - mn) * {N_HIST_BINS}) {idiv} (mx - mn + 1) AS bin,
           MIN(mn + (((c - mn) * {N_HIST_BINS}) {idiv} (mx - mn + 1))
                    * ((mx - mn + 1) {idiv} {N_HIST_BINS})) AS lo_cents_ge,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM cents CROSS JOIN rng
    GROUP BY 1
    ORDER BY bin
    """


@register("q_histogram", oracle=_hist_sql("//"))
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width 20-bin histogram of extendedprice (cents): the
    distribution profile next to q_percentiles' quantiles and
    q_column_profile's moments. Bin assignment is pure integer
    arithmetic — (c-mn)*k DIV (mx-mn+1) — so bin edges and counts are
    exact in both engines (the lo_cents_ge edge is a derived label,
    also integer).

    Scale: the min/max scalar pass then one hash aggregate; the 1-row
    range frame rides a broadcast cross join, never a shuffle. (bigint
    DIV bigint is true integer division in both engines — unlike
    decimal//int in DuckDB, see _i2d.)"""
    cents = table(spark, sf_dir, "lineitem").select(
        F.expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100"
               " AS BIGINT)").alias("c"))
    rng = cents.agg(F.min("c").alias("mn"), F.max("c").alias("mx"))
    width = f"((mx - mn + 1) DIV {N_HIST_BINS})"
    binx = f"(((c - mn) * {N_HIST_BINS}) DIV (mx - mn + 1))"
    return (cents.crossJoin(F.broadcast(rng))
            .groupBy(F.expr(binx).alias("bin"))
            .agg(F.expr(f"MIN(mn + {binx} * {width})").alias("lo_cents_ge"),
                 F.count(F.lit(1)).cast("long").alias("n"))
            .orderBy("bin"))


@register(
    "q_benford",
    oracle="""
    WITH d AS (
        SELECT SUBSTRING(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                              * 100 AS BIGINT) AS VARCHAR), 1, 1) AS digit
        FROM lineitem
        WHERE l_extendedprice > 0
    )
    SELECT digit, CAST(COUNT(*) AS BIGINT) AS n,
           CAST((1000 * COUNT(*)) // SUM(COUNT(*)) OVER () AS BIGINT)
               AS share_pm
    FROM d
    GROUP BY digit
    ORDER BY digit
    """,
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading-digit distribution of extendedprice (Benford's-law probe):
    the classic forensic data-quality screen for fabricated or truncated
    numeric columns. Digit extraction is string-of-integer (portable;
    float formatting never touches the surface), shares are integer
    permille.

    Scale: one scan, 9-row aggregate; the share window runs over 9
    rows."""
    d = (table(spark, sf_dir, "lineitem")
         .filter(F.col("l_extendedprice") > 0)
         .select(F.expr(
             "SUBSTRING(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))"
             " * 100 AS BIGINT) AS STRING), 1, 1)").alias("digit")))
    counts = d.groupBy("digit").agg(
        F.count(F.lit(1)).cast("long").alias("n"))
    return (counts
            .withColumn("tot", F.sum("n").over(Window.partitionBy()))
            .withColumn("share_pm", F.expr("(1000 * n) DIV tot"))
            .drop("tot")
            .orderBy("digit"))


# ---------------------------------------------------------------------------
# Histogram quantile sketch (mergeable approximate percentiles)
# ---------------------------------------------------------------------------

QSK_PERMILLE = (500, 900, 990)


def _qsketch_sql(idiv: str) -> str:
    qvals = ", ".join(f"({q})" for q in QSK_PERMILLE)
    return f"""
    WITH cents AS (
        SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS c
        FROM lineitem
    ),
    rng AS (SELECT MIN(c) AS mn, MAX(c) AS mx FROM cents),
    bins AS (
        SELECT ((c - mn) * {N_HIST_BINS}) {idiv} (mx - mn + 1) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM cents CROSS JOIN rng
        GROUP BY 1
    ),
    cum AS (
        SELECT bin, n,
               SUM(n) OVER (ORDER BY bin
                            ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(n) OVER () AS tot
        FROM bins
    ),
    targets AS (
        SELECT q, 1 + ((tot - 1) * q) {idiv} 1000 AS target, tot
        FROM (VALUES {qvals}) AS v(q)
             CROSS JOIN (SELECT DISTINCT tot FROM cum) t
    ),
    sel AS (
        SELECT tg.q, tg.target, tg.tot, MIN(cm.bin) AS bin
        FROM targets tg JOIN cum cm ON cm.cum >= tg.target
        GROUP BY 1, 2, 3
    )
    SELECT s.q AS q_permille,
           CAST(s.tot AS BIGINT) AS n_rows,
           CAST(s.target AS BIGINT) AS target_rank,
           CAST(s.bin AS BIGINT) AS bin,
           CAST(r.mn + s.bin * ((r.mx - r.mn + 1) {idiv} {N_HIST_BINS})
                + (((s.target - (cm.cum - cm.n) - 1)
                    * ((r.mx - r.mn + 1) {idiv} {N_HIST_BINS})) {idiv} cm.n)
                AS BIGINT) AS est_cents
    FROM sel s
    JOIN cum cm ON cm.bin = s.bin
    CROSS JOIN rng r
    ORDER BY q_permille
    """


@register("q_quantile_sketch", oracle=_qsketch_sql("//"))
def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate p50/p90/p99 of extendedprice from the MERGEABLE
    20-bin histogram sketch — the distributed-quantile recipe (KLL /
    t-digest family, fixed-bin flavor): bin counters merge by addition
    across shards/streams, and any quantile reads off the cumulative
    histogram with linear interpolation inside the owning bin. Every
    step is integer arithmetic (nearest-rank target, floor
    interpolation), so both engines produce identical estimates; the
    test cross-checks against exact numpy percentiles within one bin
    width — the sketch's guaranteed error envelope.

    Scale: identical cost to q_histogram (one min/max scalar pass + one
    20-group hash aggregate); the cumulative walk and quantile selection
    run on the 20-row sketch, never on data. This is what replaces an
    exact global sort for percentile dashboards at 100 TB.

    Reference tie-in: the reference's percentile needs go through
    BigQuery APPROX_QUANTILES (/root/reference/trainer.py:91-118 ilk);
    this is that operator with a reproducible, engine-portable sketch."""
    cents = table(spark, sf_dir, "lineitem").select(
        F.expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100"
               " AS BIGINT)").alias("c"))
    rng = cents.agg(F.min("c").alias("mn"), F.max("c").alias("mx"))
    bins = (cents.crossJoin(F.broadcast(rng))
            .groupBy(F.expr(f"((c - mn) * {N_HIST_BINS})"
                            f" DIV (mx - mn + 1)").alias("bin"))
            .agg(F.count(F.lit(1)).cast("long").alias("n")))
    wcum = (Window.orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, 0))
    cum = (bins.withColumn("cum", F.sum("n").over(wcum))
           .withColumn("tot", F.sum("n").over(
               Window.partitionBy())))
    qs = spark.createDataFrame([(q,) for q in QSK_PERMILLE], "q int")
    targets = (qs.crossJoin(F.broadcast(cum.select("tot").distinct()))
               .select("q", F.expr("1 + ((tot - 1) * q) DIV 1000")
                       .alias("target"), "tot"))
    sel = (targets.join(cum.select("bin", "cum"),
                        F.col("cum") >= F.col("target"))
           .groupBy("q", "target", "tot")
           .agg(F.min("bin").alias("bin")))
    width = f"((mx - mn + 1) DIV {N_HIST_BINS})"
    return (sel.join(cum.select("bin", "n", "cum"), "bin")
            .crossJoin(F.broadcast(rng))
            .select(F.col("q").alias("q_permille"),
                    F.col("tot").cast("long").alias("n_rows"),
                    F.col("target").cast("long").alias("target_rank"),
                    F.col("bin").cast("long").alias("bin"),
                    F.expr(f"CAST(mn + bin * {width}"
                           f" + (((target - (cum - n) - 1) * {width})"
                           f" DIV n) AS BIGINT)").alias("est_cents"))
            .orderBy("q_permille"))
