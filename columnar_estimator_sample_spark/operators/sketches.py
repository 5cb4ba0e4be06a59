"""Count-min sketch: sublinear frequency estimation over a token stream.

The reference's statistics surface is exact/HLL distinct counts feeding
its vocab_size catalog (/root/reference/trainer.py:91-118). A 100 TB
corpus also needs FREQUENCY sketches: a count-min sketch answers "how
often does token t occur" in O(d*w) memory regardless of stream size,
with one-sided error (estimates never undercount). Like the engine's
MinHash/SimHash tiers, the sketch is built relationally — counters are a
(row, bucket) hash aggregate, mergeable across partitions/streams by
plain addition, which is exactly how Spark's map-side partials combine
them for free.

Exactness contract: the hash functions are the portable md5-based
universal family (functions/hashing.py) with literal (a, b)
coefficients, so the DuckDB oracle reproduces the identical sketch bit
for bit — the driver gate checks the ESTIMATES, not just the exact
counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from columnar_estimator_sample_spark.functions.hashing import (
    MERSENNE_P, h64, minhash_params, sql_h64)
from columnar_estimator_sample_spark.operators.events import US_PER_DAY
from columnar_estimator_sample_spark.registry import register
from columnar_estimator_sample_spark.sources.tables import table

CM_D = 4         # sketch depth (independent hash rows)
CM_W = 256       # sketch width (buckets per row)
CM_TOP = 15      # report: top-k tokens by exact count
_A, _B = minhash_params(CM_D, seed=13)

HLL_M = 64       # registers (p=6 index bits); std error ~1.04/sqrt(64)=13%
HLL_RHO_CAP = 40  # cap rank so 709*4096*2^r_max stays inside int64
# (table, column) pairs profiled by the HLL catalog query
HLL_COLS = [("lineitem", ["l_orderkey", "l_partkey", "l_suppkey"]),
            ("orders", ["o_custkey"])]


def _hll_linear_counting() -> list[int]:
    """Small-range correction table: round(m * ln(m / V)) for V (number
    of untouched registers) = 1..m. ln is NOT portable across engines at
    the bit level, so it never runs inside a query — with m fixed at 64
    there are only 64 possible corrections, computed once driver-side and
    inlined as the SAME integer literals into both engines' plans."""
    import math
    return [round(HLL_M * math.log(HLL_M / v)) for v in range(1, HLL_M + 1)]


HLL_LC = _hll_linear_counting()


def _cm_oracle() -> str:
    placed = "\n        UNION ALL\n".join(
        f"        SELECT tok, c, {i} AS row,"
        f" (({_A[i]} * x + {_B[i]}) % {MERSENNE_P}) % {CM_W} AS bucket"
        f" FROM vx"
        for i in range(CM_D))
    return f"""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    t AS (SELECT tok FROM toks WHERE len(tok) > 0),
    vocab AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY tok),
    vx AS (SELECT tok, c, {sql_h64('tok')} % {MERSENNE_P} AS x FROM vocab),
    placed AS (
{placed}
    ),
    counters AS (
        SELECT row, bucket, CAST(SUM(c) AS BIGINT) AS cnt
        FROM placed GROUP BY 1, 2
    )
    SELECT p.tok, p.c AS exact_n, MIN(ct.cnt) AS est_n,
           MIN(ct.cnt) - p.c AS overcount
    FROM placed p JOIN counters ct USING (row, bucket)
    GROUP BY p.tok, p.c
    ORDER BY exact_n DESC, tok
    LIMIT {CM_TOP}
    """


@register("q_countmin_hh", oracle=_cm_oracle())
def q_countmin_hh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via a d=4 x w=256 count-min sketch over the
    document token stream, reported against exact ground truth: for the
    top tokens by true count, the sketch estimate (min over d counter
    rows) and its overcount (>= 0 always — CM never underestimates).

    Scale: token counts collapse to vocabulary size first, the sketch is
    a (d x w)-row aggregate built FROM the vocab table (identical
    counters to streaming the raw tokens, since addition commutes), and
    the estimate join touches d rows per token. At 100 TB the counters
    table is 1024 rows regardless of corpus size and merges across
    sources/streams by addition."""
    docs = table(spark, sf_dir, "documents")
    toks = (docs.select(F.explode(F.split("text", " ")).alias("tok"))
            .filter(F.length("tok") > 0))
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("c"))
    vx = vocab.withColumn("x", h64(F.col("tok")) % MERSENNE_P)
    rows = F.array(*[
        F.struct(
            F.lit(i).alias("row"),
            (((F.lit(_A[i]) * F.col("x") + F.lit(_B[i])) % MERSENNE_P)
             % CM_W).alias("bucket"))
        for i in range(CM_D)])
    placed = (vx.select("tok", "c", F.explode(rows).alias("rb"))
              .select("tok", "c", F.col("rb.row").alias("row"),
                      F.col("rb.bucket").alias("bucket")))
    counters = (placed.groupBy("row", "bucket")
                .agg(F.sum("c").cast("long").alias("cnt")))
    return (placed.join(counters, ["row", "bucket"])
            .groupBy("tok", F.col("c").alias("exact_n"))
            .agg(F.min("cnt").alias("est_n"))
            .withColumn("overcount", F.col("est_n") - F.col("exact_n"))
            .orderBy(F.desc("exact_n"), "tok")
            .limit(CM_TOP))


def _hll_oracle() -> str:
    vals = "\n      UNION ALL ".join(
        f"SELECT '{t}.{c}' AS col_name, CAST({c} AS VARCHAR) AS v FROM {t}"
        for t, cols in HLL_COLS for c in cols)
    shift_rmax = "(CAST(1 AS BIGINT) << CAST(a.r_max AS INT))"
    lc = ", ".join(str(v) for v in HLL_LC)
    return f"""
    WITH vals AS (
      {vals}
    ), hx AS (
      SELECT col_name, v,
             CAST(('0x' || substr(md5('hll_' || v), 1, 15)) AS BIGINT) AS h
      FROM vals
    ), regs AS (
      SELECT col_name, h % {HLL_M} AS j,
             MAX(LEAST(CASE WHEN h // {HLL_M} = 0 THEN 55
                       ELSE 55 - length(bin(h // {HLL_M})) END,
                       {HLL_RHO_CAP})) AS m
      FROM hx GROUP BY 1, 2
    ), ex AS (
      SELECT col_name, COUNT(DISTINCT v) AS exact_n FROM hx GROUP BY 1
    ), agg AS (
      SELECT col_name, MAX(m) AS r_max,
             CAST(COUNT(*) AS BIGINT) AS n_registers
      FROM regs GROUP BY 1
    ), s AS (
      SELECT r.col_name,
             CAST(SUM(CAST(1 AS BIGINT) << CAST(a.r_max - r.m AS INT))
                  AS BIGINT) AS s_present
      FROM regs r JOIN agg a USING (col_name) GROUP BY 1
    )
    , raw AS (
      SELECT a.col_name, a.r_max, a.n_registers,
             CAST((709 * 4096 * {shift_rmax})
                  // (1000 * (s.s_present
                              + ({HLL_M} - a.n_registers) * {shift_rmax}))
                  AS BIGINT) AS raw_est,
             e.exact_n
      FROM agg a JOIN s USING (col_name) JOIN ex e USING (col_name)
    ), corr AS (
      SELECT col_name, r_max, n_registers,
             CASE WHEN n_registers < {HLL_M} AND raw_est <= 160
                  THEN CAST(([{lc}])[{HLL_M} - n_registers] AS BIGINT)
                  ELSE raw_est END AS est_n,
             exact_n
      FROM raw
    )
    SELECT col_name, r_max, n_registers, est_n, exact_n,
           CAST((est_n * 1000) // exact_n AS BIGINT) AS ratio_permille
    FROM corr
    ORDER BY col_name
    """


@register("q_hll_ndv", oracle=_hll_oracle())
def q_hll_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog NDV catalog with ORACLE-EXACT registers and estimate.

    The reference sizes its feature space from HLL distinct counts
    (/root/reference/trainer.py:91-118 via APPROX_COUNT_DISTINCT); Spark's
    built-in approx_count_distinct is the same algorithm but its hash is
    engine-private, so round 1 left the sketch tier rows-only
    (q_approx_stats). This query is the driver-checkable HLL: the 64
    registers derive from the portable md5 hash family (register = h mod
    64, rank = leading-zero count of the remaining 54 bits via the
    bin()-string trick both engines share), and the harmonic-mean
    estimate is restated in pure int64 arithmetic — sum(2^-M) is scaled
    by 2^r_max so the denominator is an integer, alpha_64 = 709/1000, one
    integer division. The small-range (linear counting) correction uses a
    64-entry integer lookup inlined into both plans (see
    _hll_linear_counting). DuckDB reproduces every register AND the
    estimate bit for bit.

    Scale: ONE scan per table (the profiled columns fan out as an
    exploded struct array, never separate scans), register aggregation is
    a map-side-combining MAX onto at most 64*n_cols rows, and registers
    merge across shards/streams by MAX — the mergeability that makes HLL
    the 100 TB NDV tool. exact_n (COUNT DISTINCT ground truth) exists
    only for the report; production drops it and the query is
    sublinear-state."""
    frames = []
    par = spark.sparkContext.defaultParallelism
    for tname, cols in HLL_COLS:
        df = table(spark, sf_dir, tname).select(*cols)
        # the md5 register kernel is ~2 µs/value: if the parquet layout
        # yields fewer splits than cores (single small file locally; a
        # few huge files on a cluster), fan the PROJECTED key columns out
        # first — a narrow shuffle that buys full-width hashing. At
        # healthy split counts (any real 100 TB scan) this is a no-op.
        if df.rdd.getNumPartitions() < par:
            df = df.repartition(par)
        arr = F.array(*[
            F.struct(F.lit(f"{tname}.{c}").alias("col_name"),
                     F.col(c).cast("string").alias("v"))
            for c in cols])
        frames.append(df.select(F.explode(arr).alias("x"))
                      .select("x.col_name", "x.v"))
    vals = frames[0]
    for f in frames[1:]:
        vals = vals.unionByName(f)
    # The register aggregate is map-side-combining onto at most 64 rows
    # per column, so hashing ALL rows costs no shuffle at all (md5 on the
    # 2.4M values is ~0.2 s); the expensive part of the old plan was the
    # REPORT column — a COUNT DISTINCT over the exploded STRING values
    # shuffled the full distinct set (plus a second scan+explode+md5 for
    # the register pass: 2.63 s steady since round 2). exact_n now comes
    # from per-table numeric countDistinct aggregates on the original
    # typed columns — no string ever crosses an exchange: 2.63 → ~0.9 s
    # at sf0.1, registers and estimate bit-identical.
    hx = vals.select(
        "col_name",
        h64(F.concat(F.lit("hll_"), F.col("v"))).alias("h"))
    rho = F.when(F.expr(f"h div {HLL_M}") == 0, F.lit(55)).otherwise(
        F.lit(55) - F.length(F.expr(f"bin(h div {HLL_M})")))
    regs = (hx.select("col_name", (F.col("h") % HLL_M).alias("j"),
                      F.least(rho, F.lit(HLL_RHO_CAP)).cast("long")
                      .alias("r"))
            .groupBy("col_name", "j").agg(F.max("r").alias("m")))
    ex_frames = []
    for tname, cols in HLL_COLS:
        df = table(spark, sf_dir, tname)
        one = df.agg(*[F.countDistinct(c).alias(c) for c in cols])
        stack = ", ".join(f"'{tname}.{c}', {c}" for c in cols)
        ex_frames.append(one.selectExpr(
            f"stack({len(cols)}, {stack}) AS (col_name, exact_n)"))
    ex = ex_frames[0]
    for f in ex_frames[1:]:
        ex = ex.unionByName(f)
    agg = regs.groupBy("col_name").agg(
        F.max("m").alias("r_max"),
        F.count(F.lit(1)).alias("n_registers"))
    s = (regs.join(F.broadcast(agg), "col_name")
         .groupBy("col_name")
         .agg(F.sum(F.expr(
             "shiftleft(CAST(1 AS BIGINT), CAST(r_max - m AS INT))"))
             .alias("s_present")))
    shift_rmax = "shiftleft(CAST(1 AS BIGINT), CAST(r_max AS INT))"
    lc = ", ".join(str(v) for v in HLL_LC)
    return (agg.join(s, "col_name").join(ex, "col_name")
            .select("col_name", "r_max", "n_registers",
                    F.expr(f"(709 * 4096 * {shift_rmax})"
                           f" div (1000 * (s_present +"
                           f" ({HLL_M} - n_registers) * {shift_rmax}))")
                    .alias("raw_est"),
                    "exact_n")
            # small-range (linear counting) correction, literal lookup
            .withColumn("est_n", F.expr(
                f"CASE WHEN n_registers < {HLL_M} AND raw_est <= 160"
                f" THEN CAST(element_at(array({lc}),"
                f" CAST({HLL_M} - n_registers AS INT)) AS BIGINT)"
                f" ELSE raw_est END"))
            .drop("raw_est")
            .withColumn("ratio_permille",
                        F.expr("(est_n * 1000) div exact_n"))
            .orderBy("col_name"))


# ---------------------------------------------------------------------------
# Bitmap-index presence words (roaring-bitmap idea, relationally)
# ---------------------------------------------------------------------------

WORD_BITS = 63  # bit positions 0..62: a shift into the sign bit is an
                # overflow error in DuckDB, so words carry 63 users each


@register(
    "q_bitmap_retention",
    oracle=f"""
    WITH ud AS (
        SELECT DISTINCT user_id,
               CAST(epoch_us(ts) // {US_PER_DAY} AS BIGINT) AS day
        FROM events
    ), words AS (
        SELECT day, user_id // {WORD_BITS} AS w,
               bit_or(CAST(1 AS BIGINT) << CAST(user_id % {WORD_BITS} AS INT))
                   AS bits
        FROM ud GROUP BY 1, 2
    ), paired AS (
        SELECT COALESCE(a.day, b.day - 1) AS day,
               COALESCE(a.bits, 0) AS abits,
               COALESCE(b.bits, 0) AS bbits
        FROM words a FULL JOIN words b
          ON b.w = a.w AND b.day = a.day + 1
    ), agg AS (
        SELECT day,
               CAST(SUM(bit_count(abits)) AS BIGINT) AS dau,
               CAST(SUM(bit_count(abits & bbits)) AS BIGINT) AS n_both,
               CAST(SUM(bit_count(abits | bbits)) AS BIGINT) AS n_either
        FROM paired GROUP BY day
    )
    SELECT day, dau, n_both, n_either,
           (1000 * n_both) // n_either AS jaccard_permille
    FROM agg
    WHERE dau > 0 AND day + 1 IN (SELECT DISTINCT day FROM ud)
    ORDER BY day
    """)
def q_bitmap_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day audience overlap via BITMAP WORDS — the
    roaring-bitmap technique expressed relationally: each day's active
    users compress into 64-bit presence words (word = user_id/{WORD_BITS},
    one bit_or aggregate), and DAU / next-day overlap / Jaccard all fall
    out of popcounts over word-aligned AND/OR — set algebra at 1/63rd
    the shuffle width of raw user ids, mergeable across shards by OR.

    The report: per day, DAU and the retention-style Jaccard overlap
    with the following observed day. Scale: the user-day dedup is the
    only corpus-sized stage; everything after runs on |days| x
    |users|/{WORD_BITS} words. Bit-exact in both engines (sign bit kept
    free — DuckDB checks shift overflow)."""
    ev = table(spark, sf_dir, "events")
    ud = (ev.select("user_id",
                    F.expr(f"CAST(us div {US_PER_DAY} AS BIGINT)")
                    .alias("day"))
          .distinct())
    words = (ud.select(
                 "day", F.expr(f"user_id div {WORD_BITS}").alias("w"),
                 F.expr(f"shiftleft(CAST(1 AS BIGINT),"
                        f" CAST(user_id % {WORD_BITS} AS INT))").alias("b"))
             .groupBy("day", "w")
             .agg(F.expr("bit_or(b)").alias("bits")))
    a = words.select(F.col("day").alias("a_day"), "w",
                     F.col("bits").alias("abits"))
    b = words.select(F.col("day").alias("b_day"), "w",
                     F.col("bits").alias("bbits"))
    paired = (a.join(b, (a.w == b.w) & (b.b_day == a.a_day + 1), "full")
              .select(F.coalesce(F.col("a_day"), F.col("b_day") - 1)
                      .alias("day"),
                      F.coalesce("abits", F.lit(0)).alias("abits"),
                      F.coalesce("bbits", F.lit(0)).alias("bbits")))
    agg = (paired.groupBy("day")
           .agg(F.sum(F.expr("bit_count(abits)")).cast("long").alias("dau"),
                F.sum(F.expr("bit_count(abits & bbits)")).cast("long")
                .alias("n_both"),
                F.sum(F.expr("bit_count(abits | bbits)")).cast("long")
                .alias("n_either")))
    obs = ud.select("day").distinct().select((F.col("day") - 1).alias("day"))
    return (agg.join(obs, "day", "semi")
            .filter(F.col("dau") > 0)
            .select("day", "dau", "n_both", "n_either",
                    F.expr("(1000 * n_both) div n_either")
                    .alias("jaccard_permille"))
            .orderBy("day"))


# ---------------------------------------------------------------------------
# Portable Bloom filter (oracle-exact words + measured FPR)
# ---------------------------------------------------------------------------

BF_WORDS = 512           # 512 x 63-bit words -> m = 32256 bit positions
BF_M = BF_WORDS * WORD_BITS
BF_K = 4                 # hash functions
BF_PROBES = 500          # fabricated guaranteed non-member probes


def _bf_positions_sql(v: str) -> list[str]:
    out = []
    for i in range(BF_K):
        expr = "'bf" + str(i) + "_' || CAST(" + v + " AS VARCHAR)"
        out.append(f"({sql_h64(expr)}) % {BF_M}")
    return out


@register(
    "q_bloom_fpr",
    oracle=f"""
    WITH members AS (
        SELECT DISTINCT o_custkey AS v FROM orders
    ), mpos AS (
        {" UNION ALL ".join(
            f"SELECT ({p}) AS pos FROM members"
            for p in _bf_positions_sql("v"))}
    ), words AS (
        SELECT pos // {WORD_BITS} AS w,
               bit_or(CAST(1 AS BIGINT) << CAST(pos % {WORD_BITS} AS INT))
                   AS bits
        FROM mpos GROUP BY 1
    ), mx AS (SELECT MAX(v) AS mv FROM members),
    probes AS (
        SELECT mx.mv + i.i AS v
        FROM (SELECT unnest(range(1, {BF_PROBES} + 1)) AS i) i, mx
    ), ppos AS (
        {" UNION ALL ".join(
            f"SELECT v, ({p}) AS pos FROM probes"
            for p in _bf_positions_sql("v"))}
    ), checked AS (
        SELECT p.v,
               CAST(SUM(CASE WHEN (w.bits
                                   >> CAST(p.pos % {WORD_BITS} AS INT))
                                  & 1 = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS hits
        FROM ppos p LEFT JOIN words w ON w.w = p.pos // {WORD_BITS}
        GROUP BY p.v
    ), agg AS (
        SELECT CAST(SUM(CASE WHEN hits = {BF_K} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_fp
        FROM checked
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM members) AS n_members,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM words) AS n_words_used,
           CAST({BF_PROBES} AS BIGINT) AS n_probes,
           a.n_fp,
           (1000 * a.n_fp) // {BF_PROBES} AS fpr_permille
    FROM agg a
    """)
def q_bloom_fpr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable Bloom filter, end to end: the customer-key member set
    hashes into an m={BF_M}-bit filter stored as {BF_WORDS} 63-bit words
    (bit_or aggregate — the same OR-mergeable word layout as
    q_bitmap_retention), then {BF_PROBES} fabricated guaranteed
    non-members probe it and the query reports the MEASURED
    false-positive rate — the empirical audit of the structure Spark
    itself injects as runtime bloom filters (proven in
    tests/test_plans.py). All k={BF_K} hash positions come from the md5
    family, so both engines build bit-identical words and agree on
    every probe.

    Scale: the filter is {BF_WORDS} rows no matter the corpus; members
    collapse to distinct keys first; probes are a generated frame.
    Membership checking is a word-keyed broadcast join."""
    orders = table(spark, sf_dir, "orders")
    members = orders.select(F.col("o_custkey").alias("v")).distinct()

    def positions(df: DataFrame, keep: list[str]) -> DataFrame:
        out = None
        for i in range(BF_K):
            p = (df.select(
                *keep,
                (h64(F.concat(F.lit(f"bf{i}_"),
                              F.col("v").cast("string"))) % BF_M)
                .alias("pos")))
            out = p if out is None else out.unionByName(p)
        return out

    words = (positions(members, [])
             .groupBy(F.expr(f"pos div {WORD_BITS}").alias("w"))
             .agg(F.expr(
                 f"bit_or(shiftleft(CAST(1 AS BIGINT),"
                 f" CAST(pos % {WORD_BITS} AS INT)))").alias("bits")))
    mx = members.agg(F.max("v").alias("mv"))
    probes = (spark.range(1, BF_PROBES + 1)
              .crossJoin(F.broadcast(mx))
              .select((F.col("mv") + F.col("id")).alias("v")))
    ppos = positions(probes, ["v"]).withColumn(
        "w", F.expr(f"pos div {WORD_BITS}"))
    checked = (ppos.join(F.broadcast(words), "w", "left")
               .groupBy("v")
               .agg(F.sum(F.expr(
                   f"CASE WHEN (bits >> CAST(pos % {WORD_BITS} AS INT))"
                   f" & 1 = 1 THEN 1 ELSE 0 END")).cast("long")
                   .alias("hits")))
    agg = checked.agg(
        F.sum(F.expr(f"CASE WHEN hits = {BF_K} THEN 1 ELSE 0 END"))
        .cast("long").alias("n_fp"))
    n_members = members.agg(F.count("*").cast("long").alias("n_members"))
    n_words = words.agg(F.count("*").cast("long").alias("n_words_used"))
    return (agg.crossJoin(F.broadcast(n_members))
            .crossJoin(F.broadcast(n_words))
            .select("n_members", "n_words_used",
                    F.lit(BF_PROBES).cast("long").alias("n_probes"),
                    "n_fp",
                    F.expr(f"(1000 * n_fp) div {BF_PROBES}")
                    .alias("fpr_permille")))


# ---------------------------------------------------------------------------
# Capture-recapture population estimate
# ---------------------------------------------------------------------------


@register(
    "q_capture_recapture",
    oracle=f"""
    WITH d AS (
        SELECT user_id, CAST(epoch_us(ts) // {US_PER_DAY} AS BIGINT) AS day
        FROM events
    ), rng AS (SELECT MIN(day) AS mn, MAX(day) AS mx FROM d),
    s1 AS (
        SELECT DISTINCT user_id FROM d, rng WHERE day < (mn + mx + 1) // 2
    ), s2 AS (
        SELECT DISTINCT user_id FROM d, rng WHERE day >= (mn + mx + 1) // 2
    ), m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS recaptured
        FROM s1 JOIN s2 USING (user_id)
    ), tot AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n1,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM s2) AS n2,
               (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM d)
                   AS observed
    )
    SELECT t.n1, t.n2, m.recaptured,
           CAST((CAST(t.n1 AS HUGEINT) * t.n2)
                // GREATEST(m.recaptured, 1) AS BIGINT) AS lp_est,
           t.observed
    FROM m CROSS JOIN tot t
    """)
def q_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture (Lincoln-Petersen) population estimate: treat
    the two halves of the time range as independent "captures" of the
    user base and estimate the total population as n1·n2/recaptured —
    the ecology estimator data teams reuse to size what they CANNOT see
    (users missed by both periods, residual duplicates after dedup,
    coverage of a crawl). Reported beside the directly-observed distinct
    count, whose gap to the estimate is the churn/turnover signal.

    Scale: two distinct-user sets (one scan), one equi-join for the
    recapture count, a 1-row report — every piece mergeable."""
    ev = table(spark, sf_dir, "events")
    d = ev.select("user_id",
                  F.expr(f"CAST(us div {US_PER_DAY} AS BIGINT)")
                  .alias("day"))
    rng = d.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
    tagged = d.crossJoin(F.broadcast(rng))
    s1 = (tagged.filter(F.expr("day < (mn + mx + 1) div 2"))
          .select("user_id").distinct())
    s2 = (tagged.filter(F.expr("day >= (mn + mx + 1) div 2"))
          .select("user_id").distinct())
    m = s1.join(s2, "user_id").agg(
        F.count("*").cast("long").alias("recaptured"))
    n1 = s1.agg(F.count("*").cast("long").alias("n1"))
    n2 = s2.agg(F.count("*").cast("long").alias("n2"))
    obs = d.agg(F.countDistinct("user_id").cast("long").alias("observed"))
    return (m.crossJoin(F.broadcast(n1)).crossJoin(F.broadcast(n2))
            .crossJoin(F.broadcast(obs))
            .select("n1", "n2", "recaptured",
                    F.expr("(CAST(n1 AS DECIMAL(38,0)) * n2)"
                           " div GREATEST(recaptured, 1)")
                    .cast("long").alias("lp_est"),
                    "observed"))


# ---------------------------------------------------------------------------
# K-minimum-values distinct sketch with set-operation estimates
# ---------------------------------------------------------------------------

KMV_K = 64                       # sketch size (std error ~ 1/sqrt(K-2) = 13%)
KMV_SPACE = 1 << 60              # h64 hash space: 60 bits


@register(
    "q_kmv_distinct",
    oracle=f"""
    WITH e AS (
        SELECT user_id,
               CAST(epoch_us(ts) // {US_PER_DAY} AS BIGINT) AS day
        FROM events
    ), rng AS (SELECT MIN(day) AS mn, MAX(day) AS mx FROM e),
    d AS (
        SELECT DISTINCT user_id,
               CASE WHEN day < (mn + mx + 1) // 2 THEN 0 ELSE 1 END AS half
        FROM e, rng
    ), uh AS (
        SELECT user_id,
               {sql_h64("'kmv_' || CAST(user_id AS VARCHAR)")} AS h,
               MAX(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS in1,
               MAX(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS in2
        FROM d GROUP BY user_id
    ), s1 AS (
        SELECT h FROM (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn
                       FROM uh WHERE in1 = 1) WHERE rn <= {KMV_K}
    ), s2 AS (
        SELECT h FROM (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn
                       FROM uh WHERE in2 = 1) WHERE rn <= {KMV_K}
    ), su AS (
        SELECT h, in1, in2
        FROM (SELECT h, in1, in2, ROW_NUMBER() OVER (ORDER BY h) AS rn
              FROM uh) WHERE rn <= {KMV_K}
    ), a1 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS c1,
               CAST(MAX(h) AS BIGINT) AS k1 FROM s1
    ), a2 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS c2,
               CAST(MAX(h) AS BIGINT) AS k2 FROM s2
    ), au AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS cu,
               CAST(MAX(h) AS BIGINT) AS ku,
               CAST(SUM(CASE WHEN in1 = 1 AND in2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS ov
        FROM su
    ), ex AS (
        SELECT CAST(SUM(in1) AS BIGINT) AS exact_n1,
               CAST(SUM(in2) AS BIGINT) AS exact_n2,
               CAST(COUNT(*) AS BIGINT) AS exact_union,
               CAST(SUM(CASE WHEN in1 = 1 AND in2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS exact_intersection
        FROM uh
    )
    SELECT CAST({KMV_K} AS BIGINT) AS k,
           CASE WHEN c1 < {KMV_K} THEN c1
                ELSE CAST((CAST({KMV_K - 1} AS HUGEINT) * {KMV_SPACE}) // k1
                          AS BIGINT) END AS est_n1,
           CASE WHEN c2 < {KMV_K} THEN c2
                ELSE CAST((CAST({KMV_K - 1} AS HUGEINT) * {KMV_SPACE}) // k2
                          AS BIGINT) END AS est_n2,
           CASE WHEN cu < {KMV_K} THEN cu
                ELSE CAST((CAST({KMV_K - 1} AS HUGEINT) * {KMV_SPACE}) // ku
                          AS BIGINT) END AS est_union,
           CAST((ov * (CASE WHEN cu < {KMV_K} THEN cu
                            ELSE CAST((CAST({KMV_K - 1} AS HUGEINT)
                                       * {KMV_SPACE}) // ku AS BIGINT) END))
                // cu AS BIGINT) AS est_intersection,
           (1000 * ov) // cu AS jaccard_permille_est,
           exact_n1, exact_n2, exact_union, exact_intersection,
           (1000 * exact_intersection) // exact_union
               AS jaccard_permille_exact
    FROM a1, a2, au, ex
    """)
def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values (theta-sketch) distinct counting with SET
    OPERATIONS — the piece HLL cannot do: keeping the K smallest hash
    VALUES (not just register maxima) lets sketches of two populations
    estimate union, intersection, and Jaccard similarity, the
    "how much do these two sources/periods overlap" question asked
    before paying for an exact distinct join. Both time-halves of the
    user base are sketched (K=64 smallest 60-bit md5 hashes), the union
    sketch is the K smallest of the merged stream, and the intersection
    estimate is the classic theta composition rho*est_union where rho =
    |both-halves hashes in the union sketch|/K. Estimates AND exact
    ground truth (with exact Jaccard) ship in one row; the estimator is
    (K-1)*2^60/h_(K) on 128-bit lanes, pure integers end to end.

    Scale: per-half K-smallest selection is Spark's sort-limit
    (TakeOrderedAndProject: per-partition partial top-K, then a K-row
    merge — never a global sort), sketches are K-row frames that merge
    across shards by re-selecting K smallest of the concatenation, and
    every downstream aggregate runs on <= K rows. The exact_* columns
    are report-only ground truth; production drops them and the whole
    pipeline state is O(K) regardless of corpus size.

    Reference tie-in: the reference catalogs per-column NDV for feature
    sizing (/root/reference/trainer.py:91-118); KMV extends that catalog
    to cross-source overlap auditing."""
    ev = table(spark, sf_dir, "events")
    e = ev.select("user_id",
                  F.expr(f"CAST(us div {US_PER_DAY} AS BIGINT)").alias("day"))
    rng = e.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
    d = (e.crossJoin(F.broadcast(rng))
         .select("user_id",
                 F.expr("CASE WHEN day < (mn + mx + 1) div 2"
                        " THEN 0 ELSE 1 END").alias("half"))
         .distinct())
    uh = (d.groupBy("user_id")
          .agg(F.max(F.expr("CASE WHEN half = 0 THEN 1 ELSE 0 END"))
               .alias("in1"),
               F.max(F.expr("CASE WHEN half = 1 THEN 1 ELSE 0 END"))
               .alias("in2"))
          .select(h64(F.concat(F.lit("kmv_"),
                               F.col("user_id").cast("string"))).alias("h"),
                  "in1", "in2"))
    s1 = uh.filter("in1 = 1").select("h").orderBy("h").limit(KMV_K)
    s2 = uh.filter("in2 = 1").select("h").orderBy("h").limit(KMV_K)
    su = uh.orderBy("h").limit(KMV_K)
    a1 = s1.agg(F.count("*").cast("long").alias("c1"),
                F.max("h").cast("long").alias("k1"))
    a2 = s2.agg(F.count("*").cast("long").alias("c2"),
                F.max("h").cast("long").alias("k2"))
    au = su.agg(F.count("*").cast("long").alias("cu"),
                F.max("h").cast("long").alias("ku"),
                F.sum(F.expr("CASE WHEN in1 = 1 AND in2 = 1"
                             " THEN 1 ELSE 0 END")).cast("long").alias("ov"))
    ex = uh.agg(F.sum("in1").cast("long").alias("exact_n1"),
                F.sum("in2").cast("long").alias("exact_n2"),
                F.count("*").cast("long").alias("exact_union"),
                F.sum(F.expr("CASE WHEN in1 = 1 AND in2 = 1"
                             " THEN 1 ELSE 0 END")).cast("long")
                .alias("exact_intersection"))
    est = (f"CASE WHEN {{c}} < {KMV_K} THEN {{c}}"
           f" ELSE CAST((CAST({KMV_K - 1} AS DECIMAL(38,0)) * {KMV_SPACE})"
           f" div {{k}} AS BIGINT) END")
    return (a1.crossJoin(F.broadcast(a2)).crossJoin(F.broadcast(au))
            .crossJoin(F.broadcast(ex))
            .select(F.lit(KMV_K).cast("long").alias("k"),
                    F.expr(est.format(c="c1", k="k1")).alias("est_n1"),
                    F.expr(est.format(c="c2", k="k2")).alias("est_n2"),
                    F.expr(est.format(c="cu", k="ku")).alias("est_union"),
                    F.expr(f"CAST((ov * ({est.format(c='cu', k='ku')}))"
                           f" div cu AS BIGINT)").alias("est_intersection"),
                    F.expr("(1000 * ov) div cu")
                    .alias("jaccard_permille_est"),
                    "exact_n1", "exact_n2", "exact_union",
                    "exact_intersection",
                    F.expr("(1000 * exact_intersection) div exact_union")
                    .alias("jaccard_permille_exact")))


# ---------------------------------------------------------------------------
# Join-size estimation from count-min sketches (CBO's classic question)
# ---------------------------------------------------------------------------

JS_D = 4          # sketch depth shared by both sides
JS_W = 256        # sketch width
_JA, _JB = minhash_params(JS_D, seed=29)


def _js_oracle() -> str:
    place = "\n        UNION ALL\n".join(
        f"        SELECT {i} AS row,"
        f" (({_JA[i]} * x + {_JB[i]}) % {MERSENNE_P}) % {JS_W} AS bucket, c"
        f" FROM {{side}}x"
        for i in range(JS_D))
    return f"""
    WITH ek AS (
        SELECT user_id AS k, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ), ok AS (
        SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS c
        FROM orders GROUP BY 1
    ),
    ex AS (SELECT k, c, {sql_h64("'js_' || CAST(k AS VARCHAR)")}
                        % {MERSENNE_P} AS x FROM ek),
    ox AS (SELECT k, c, {sql_h64("'js_' || CAST(k AS VARCHAR)")}
                        % {MERSENNE_P} AS x FROM ok),
    pe AS (
{place.format(side='e')}
    ), po AS (
{place.format(side='o')}
    ),
    ce AS (SELECT row, bucket, CAST(SUM(c) AS BIGINT) AS cnt
           FROM pe GROUP BY 1, 2),
    co AS (SELECT row, bucket, CAST(SUM(c) AS BIGINT) AS cnt
           FROM po GROUP BY 1, 2),
    est AS (
        SELECT ce.row,
               CAST(SUM(CAST(ce.cnt AS HUGEINT) * co.cnt) AS BIGINT)
                   AS est_join_rows
        FROM ce JOIN co USING (row, bucket)
        GROUP BY ce.row
    ),
    exact AS (
        SELECT CAST(SUM(CAST(ek.c AS HUGEINT) * ok.c) AS BIGINT)
                   AS exact_join_rows
        FROM ek JOIN ok USING (k)
    )
    SELECT est.row, est.est_join_rows, exact.exact_join_rows,
           (1000 * est.est_join_rows) // exact.exact_join_rows
               AS ratio_permille
    FROM est CROSS JOIN exact
    ORDER BY est.row
    """


@register("q_join_size_estimate", oracle=_js_oracle())
def q_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join cardinality estimation from count-min sketches — the
    question a cost-based optimizer asks before choosing a join
    strategy: how many rows would events JOIN orders ON user produce?
    The CM inner product SUM(cms_a[d][w] * cms_b[d][w]) upper-bounds the
    true join size |{(e,o): e.user = o.cust}| = SUM_k c_e(k)*c_o(k) for
    every depth row d (hash collisions only ADD cross terms), and the
    report shows each row's estimate beside the exact join size with the
    overestimate ratio. Take the MIN row as the estimate; 2 KB of
    counters per side replaces scanning either table at plan time.

    Scale: each side collapses to its key-frequency table, the sketches
    are (d x w) = 1024-row aggregates mergeable by addition across
    shards/streams, and the inner product is a 1024-row join — plan-time
    cost independent of table size. The exact_join_rows column is
    report-only ground truth (it IS the full key join); production keeps
    only the sketch half. Sketch family/coefficients are the portable
    md5 universal hashes (functions/hashing.py), so DuckDB reproduces
    every counter and the estimates bit for bit."""
    ev = table(spark, sf_dir, "events")
    od = table(spark, sf_dir, "orders")
    ek = (ev.groupBy(F.col("user_id").alias("k"))
          .agg(F.count("*").cast("long").alias("c")))
    ok = (od.groupBy(F.col("o_custkey").alias("k"))
          .agg(F.count("*").cast("long").alias("c")))

    def sketch(keys: DataFrame) -> DataFrame:
        x = keys.withColumn(
            "x", h64(F.concat(F.lit("js_"), F.col("k").cast("string")))
            % MERSENNE_P)
        rb = F.array(*[
            F.struct(F.lit(i).alias("row"),
                     (((F.lit(_JA[i]) * F.col("x") + F.lit(_JB[i]))
                       % MERSENNE_P) % JS_W).alias("bucket"))
            for i in range(JS_D)])
        return (x.select("c", F.explode(rb).alias("rb"))
                .groupBy(F.col("rb.row").alias("row"),
                         F.col("rb.bucket").alias("bucket"))
                .agg(F.sum("c").cast("long").alias("cnt")))

    ce, co = sketch(ek), sketch(ok)
    est = (ce.join(co.withColumnRenamed("cnt", "cnt2"), ["row", "bucket"])
           .groupBy("row")
           .agg(F.sum(F.expr("CAST(cnt AS DECIMAL(38,0)) * cnt2"))
                .cast("long").alias("est_join_rows")))
    exact = (ek.join(ok.withColumnRenamed("c", "c2"), "k")
             .agg(F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * c2"))
                  .cast("long").alias("exact_join_rows")))
    return (est.crossJoin(F.broadcast(exact))
            .withColumn("ratio_permille",
                        F.expr("(1000 * est_join_rows)"
                               " div exact_join_rows"))
            .orderBy("row"))


# ---------------------------------------------------------------------------
# Mergeable-sketch rollup: weekly NDV from stored daily HLL sketches
# ---------------------------------------------------------------------------


def _hll_rollup_oracle() -> str:
    lc = ", ".join(str(v) for v in HLL_LC)
    shift_rmax = "(CAST(1 AS BIGINT) << CAST(a.r_max AS INT))"
    return f"""
    WITH e AS (
        SELECT user_id,
               CAST(epoch_us(ts) // {US_PER_DAY} AS BIGINT) AS day
        FROM events
    ), hx AS (
        SELECT day // 7 AS week, day,
               {sql_h64("'hllr_' || CAST(user_id AS VARCHAR)")} AS h,
               user_id
        FROM e
    ), daily AS (
        SELECT week, day, h % {HLL_M} AS j,
               MAX(LEAST(CASE WHEN h // {HLL_M} = 0 THEN 55
                         ELSE 55 - length(bin(h // {HLL_M})) END,
                         {HLL_RHO_CAP})) AS m
        FROM hx GROUP BY 1, 2, 3
    ), merged AS (
        SELECT week, j, MAX(m) AS m FROM daily GROUP BY 1, 2
    ), agg AS (
        SELECT week, MAX(m) AS r_max,
               CAST(COUNT(*) AS BIGINT) AS n_registers,
               CAST((SELECT COUNT(DISTINCT day) FROM daily d
                     WHERE d.week = merged.week) AS BIGINT) AS n_sketches
        FROM merged GROUP BY week
    ), s AS (
        SELECT m.week,
               CAST(SUM(CAST(1 AS BIGINT) << CAST(a.r_max - m.m AS INT))
                    AS BIGINT) AS s_present
        FROM merged m JOIN agg a USING (week) GROUP BY 1
    ), ex AS (
        SELECT day // 7 AS week,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_n
        FROM e GROUP BY 1
    ), raw AS (
        SELECT a.week, a.r_max, a.n_registers, a.n_sketches,
               CAST((709 * 4096 * {shift_rmax})
                    // (1000 * (s.s_present
                                + ({HLL_M} - a.n_registers) * {shift_rmax}))
                    AS BIGINT) AS raw_est,
               e.exact_n
        FROM agg a JOIN s USING (week) JOIN ex e USING (week)
    )
    SELECT week, n_sketches, n_registers,
           CASE WHEN n_registers < {HLL_M} AND raw_est <= 160
                THEN CAST(([{lc}])[{HLL_M} - n_registers] AS BIGINT)
                ELSE raw_est END AS est_n,
           exact_n,
           (1000 * CASE WHEN n_registers < {HLL_M} AND raw_est <= 160
                   THEN CAST(([{lc}])[{HLL_M} - n_registers] AS BIGINT)
                   ELSE raw_est END) // exact_n AS ratio_permille
    FROM raw
    ORDER BY week
    """


@register("q_hll_rollup", oracle=_hll_rollup_oracle())
def q_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly distinct-user counts computed FROM stored daily HLL
    sketches, never from raw data: the pre-aggregation pattern (Druid /
    DataSketches / materialized sketch columns) that turns a 100 TB
    distinct-count scan into a |days|x64-register MAX-merge. The daily
    register table here derives in-plan from the same events scan
    (production persists it once at ingest); the weekly estimate uses
    ONLY the daily sketches — the merge is an associative register MAX,
    so day -> week -> month rollups all read sketch rows, and the same
    MAX-merge is how shards and streaming micro-batches combine.

    exact_n (COUNT DISTINCT ground truth) exists for the error report
    beside n_sketches (days merged); production drops it. Registers,
    ranks, and the integer harmonic-mean estimate are the q_hll_ndv
    contract — bit-identical in both engines."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.expr(f"us div {US_PER_DAY}").alias("day"))
    hx = ev.select(
        F.expr("day div 7").alias("week"), "day", "user_id",
        h64(F.concat(F.lit("hllr_"), F.col("user_id").cast("string")))
        .alias("h"))
    rho = F.when(F.expr(f"h div {HLL_M}") == 0, F.lit(55)).otherwise(
        F.lit(55) - F.length(F.expr(f"bin(h div {HLL_M})")))
    daily = (hx.select("week", "day", (F.col("h") % HLL_M).alias("j"),
                       F.least(rho, F.lit(HLL_RHO_CAP)).cast("long")
                       .alias("r"))
             .groupBy("week", "day", "j").agg(F.max("r").alias("m")))
    merged = daily.groupBy("week", "j").agg(F.max("m").alias("m"))
    n_sketches = daily.groupBy("week").agg(
        F.countDistinct("day").cast("long").alias("n_sketches"))
    agg = merged.groupBy("week").agg(
        F.max("m").alias("r_max"),
        F.count(F.lit(1)).alias("n_registers"))
    s = (merged.join(F.broadcast(agg), "week")
         .groupBy("week")
         .agg(F.sum(F.expr(
             "shiftleft(CAST(1 AS BIGINT), CAST(r_max - m AS INT))"))
             .alias("s_present")))
    ex = (ev.groupBy(F.expr("day div 7").alias("week"))
          .agg(F.countDistinct("user_id").cast("long").alias("exact_n")))
    shift_rmax = "shiftleft(CAST(1 AS BIGINT), CAST(r_max AS INT))"
    lc = ", ".join(str(v) for v in HLL_LC)
    return (agg.join(s, "week").join(n_sketches, "week").join(ex, "week")
            .select("week", "n_sketches", "n_registers",
                    F.expr(f"(709 * 4096 * {shift_rmax})"
                           f" div (1000 * (s_present +"
                           f" ({HLL_M} - n_registers) * {shift_rmax}))")
                    .alias("raw_est"),
                    "exact_n")
            .withColumn("est_n", F.expr(
                f"CASE WHEN n_registers < {HLL_M} AND raw_est <= 160"
                f" THEN CAST(element_at(array({lc}),"
                f" CAST({HLL_M} - n_registers AS INT)) AS BIGINT)"
                f" ELSE raw_est END"))
            .drop("raw_est")
            .withColumn("ratio_permille",
                        F.expr("(1000 * est_n) div exact_n"))
            .orderBy("week"))
