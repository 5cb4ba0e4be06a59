"""Partitioning, bucketing, and skew tooling — the shuffle-economics
toolkit for 100 TB operation.

The reference hand-tunes scan parallelism with reader threads and file
interleaving (/root/reference/trainer.py:216-238); on Spark the levers
are partitioning strategy, bucketing, and salting. These helpers make
each lever explicit and testable:

  * :func:`bucketed_ctas` — persist a table bucketed+sorted on its join
    key; two tables bucketed the same way join with ZERO exchange (the
    co-located join that replaces the per-query shuffle with a one-time
    layout cost — the dominant optimization for repeated fact-fact joins).
  * :func:`salted_join` — explode a hot build side into ``n_salts``
    replicas and scatter the probe side, so one pathological key spreads
    over n tasks instead of stalling one straggler. AQE's skew-join
    handles moderate skew automatically; salting is the deterministic
    fallback for the extreme case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from columnar_estimator_sample_spark.registry import register


def bucketed_ctas(spark: SparkSession, name: str, df: DataFrame,
                  bucket_col: str, n_buckets: int = 16,
                  partition_by: str | None = None) -> DataFrame:
    """Persist ``df`` bucketed and sorted by ``bucket_col``. Joins between
    tables bucketed identically on the join key skip both the exchange
    and (with sortBy) the sort.

    The table is EXTERNAL, landed in a fresh scratch directory from
    :func:`~columnar_estimator_sample_spark.sources.tables.landing_dir`,
    so ``sources.tables.reset_handles()`` drops it with the rest of the
    artifact store.

    ``partition_by`` adds a hive-style partition column ON TOP of the
    bucketing (e.g. the corpus export: partitioned by lang for partition
    pruning, bucketed by doc_id for exchange-free downstream joins) —
    the bucketed scan still reports hash(bucket_col) output
    partitioning across partitions, so the join elision survives. A
    partitioned table carries the table option
    ``partitionOverwriteMode=dynamic``: an overwrite ``insertInto``
    (the streaming ingests' epoch landing) replaces only the partitions
    it writes, without touching the session conf — ``insertInto``
    honours the table option, not a per-write ``.option``."""
    from columnar_estimator_sample_spark.sources.tables import landing_dir

    # never the session warehouse: the write must not depend on the HOST
    # session's warehouse dir being writable (the driver gate runs
    # queries under its own plain session in an arbitrary cwd)
    w = (df.write.mode("overwrite")
         .bucketBy(n_buckets, bucket_col)
         .sortBy(bucket_col)
         .option("path", landing_dir(spark, name)))
    if partition_by is not None:
        w = (w.partitionBy(partition_by)
             .option("partitionOverwriteMode", "dynamic"))
    w.saveAsTable(name)
    return spark.table(name)


def salted_join(big: DataFrame, small: DataFrame, key: str,
                n_salts: int = 8, how: str = "inner") -> DataFrame:
    """Skew-resistant equi-join: replicate the small side ``n_salts``
    times, scatter the big side uniformly by a PER-ROW salt, join on
    (key, salt). Output columns = big's columns + small's non-key columns.

    The salt must be independent of the join key — a key-derived salt
    sends every row of a hot key to the same (key, salt) task and spreads
    nothing. ``monotonically_increasing_id`` is per-row (partition id in
    the high bits, row index in the low bits), so a hot key's rows land on
    all ``n_salts`` replicas.

    Only inner/left joins are supported: for right/full joins the
    unmatched small-side rows would surface once per salt replica.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'|'left', got {how!r} "
            "(outer small-side rows would duplicate per salt replica)")
    salted_small = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))))
    salted_big = big.withColumn(
        "__salt", F.pmod(F.monotonically_increasing_id(),
                         F.lit(n_salts)).cast("int"))
    out = salted_big.join(salted_small, [key, "__salt"], how)
    return out.drop("__salt")


def skew_profile(df: DataFrame, key: str, top: int = 10) -> DataFrame:
    """Key-skew diagnostic: per-key row counts of the heaviest keys plus
    their share of the table — what you check BEFORE choosing between AQE
    skew-join and explicit salting."""
    total = df.count()
    return (df.groupBy(key).agg(F.count(F.lit(1)).alias("n_rows"))
            .withColumn("share", F.col("n_rows") / F.lit(float(total)))
            .orderBy(F.desc("n_rows"), F.asc(key))
            .limit(top))


# ---------------------------------------------------------------------------
# Z-order layout quality (multi-dimensional clustering)
# ---------------------------------------------------------------------------

Z_BITS = 16        # bits per dimension after range scaling
Z_BUCKETS_SHIFT = 2 * Z_BITS - 8   # 256 buckets over the 32-bit z space


def _interleave(x: str, y: str, dialect: str) -> str:
    """Bit-interleave two {Z_BITS}-bit ints into one z-value — identical
    integer expression in both dialects (disjoint bits, so + == |)."""
    terms = []
    for b in range(Z_BITS):
        if dialect == "spark":
            terms.append(f"shiftleft(shiftright({x}, {b}) & 1, {2 * b})")
            terms.append(f"shiftleft(shiftright({y}, {b}) & 1, {2 * b + 1})")
        else:
            terms.append(f"((({x} >> {b}) & 1) << {2 * b})")
            terms.append(f"((({y} >> {b}) & 1) << {2 * b + 1})")
    return " + ".join(terms)


def _zorder_oracle() -> str:
    z = _interleave("x16", "y16", "duckdb")
    return f"""
    WITH raw AS (
        SELECT l_partkey AS x, l_suppkey AS y FROM lineitem
    ), rng AS (
        SELECT MAX(x) AS mx, MAX(y) AS my FROM raw
    ), scaled AS (
        SELECT (x * 65535) // GREATEST(mx, 1) AS x16,
               (y * 65535) // GREATEST(my, 1) AS y16
        FROM raw, rng
    ), keyed AS (
        SELECT x16, y16,
               ({z}) >> {Z_BUCKETS_SHIFT} AS zbucket,
               x16 >> 8 AS xbucket
        FROM scaled
    ), zstats AS (
        SELECT 'zorder' AS layout, CAST(COUNT(DISTINCT zbucket) AS BIGINT)
                   AS n_buckets,
               CAST(SUM(span_x) AS BIGINT) // COUNT(*) AS avg_span_x_pm,
               CAST(SUM(span_y) AS BIGINT) // COUNT(*) AS avg_span_y_pm
        FROM (
            SELECT zbucket,
                   ((MAX(x16) - MIN(x16)) * 1000) // 65535 AS span_x,
                   ((MAX(y16) - MIN(y16)) * 1000) // 65535 AS span_y
            FROM keyed GROUP BY zbucket
        )
    ), xstats AS (
        SELECT 'single_dim' AS layout, CAST(COUNT(DISTINCT xbucket) AS BIGINT)
                   AS n_buckets,
               CAST(SUM(span_x) AS BIGINT) // COUNT(*) AS avg_span_x_pm,
               CAST(SUM(span_y) AS BIGINT) // COUNT(*) AS avg_span_y_pm
        FROM (
            SELECT xbucket,
                   ((MAX(x16) - MIN(x16)) * 1000) // 65535 AS span_x,
                   ((MAX(y16) - MIN(y16)) * 1000) // 65535 AS span_y
            FROM keyed GROUP BY xbucket
        )
    )
    SELECT * FROM zstats UNION ALL SELECT * FROM xstats
    ORDER BY layout DESC
    """


@register("q_zorder_layout", oracle=_zorder_oracle())
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton curve) layout audit: interleave the bits of the
    range-scaled (partkey, suppkey) pair, bucket rows by z-prefix, and
    measure each bucket's key-range SPAN in both dimensions — against the
    single-dimension sort baseline. This is the data-layout math behind
    multi-dimensional clustering at 100 TB (Delta/Iceberg OPTIMIZE
    ZORDER): a z-sorted file keeps BOTH dimensions' min/max narrow, so
    predicates on either column prune files; a single-column sort leaves
    the second dimension's span at ~full range (the report makes the
    contrast visible: avg_span_y_pm collapses under zorder).

    All integer bit arithmetic (32 shift-mask terms, identical in both
    dialects); range scaling divides by the broadcast data max."""
    from columnar_estimator_sample_spark.sources.tables import table
    raw = table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("x"), F.col("l_suppkey").alias("y"))
    rng = raw.agg(F.max("x").alias("mx"), F.max("y").alias("my"))
    scaled = (raw.crossJoin(F.broadcast(rng))
              .select(F.expr("(x * 65535) div GREATEST(mx, 1)").alias("x16"),
                      F.expr("(y * 65535) div GREATEST(my, 1)").alias("y16")))
    z = _interleave("x16", "y16", "spark")
    keyed = scaled.select(
        "x16", "y16",
        F.expr(f"shiftright({z}, {Z_BUCKETS_SHIFT})").alias("zbucket"),
        F.expr("shiftright(x16, 8)").alias("xbucket"))

    def stats(bucket: str, label: str) -> DataFrame:
        per = (keyed.groupBy(bucket)
               .agg(F.expr("((MAX(x16) - MIN(x16)) * 1000) div 65535")
                    .alias("span_x"),
                    F.expr("((MAX(y16) - MIN(y16)) * 1000) div 65535")
                    .alias("span_y")))
        return per.agg(
            F.lit(label).alias("layout"),
            F.count("*").cast("long").alias("n_buckets"),
            F.expr("CAST(SUM(span_x) AS BIGINT) div COUNT(*)")
            .alias("avg_span_x_pm"),
            F.expr("CAST(SUM(span_y) AS BIGINT) div COUNT(*)")
            .alias("avg_span_y_pm")).select(
                "layout", "n_buckets", "avg_span_x_pm", "avg_span_y_pm")
    return (stats("zbucket", "zorder")
            .unionByName(stats("xbucket", "single_dim"))
            .orderBy(F.desc("layout")))


# ---------------------------------------------------------------------------
# Small-file compaction planner (lakehouse OPTIMIZE bin-packing)
# ---------------------------------------------------------------------------

COMPACT_FILE_BUCKETS = 8      # synthetic files per source partition
COMPACT_TARGET_BYTES = 2048   # target compacted file size

from columnar_estimator_sample_spark.functions.hashing import h64, sql_h64
from columnar_estimator_sample_spark.sources.tables import table as _table


@register(
    "q_compaction_plan",
    oracle=f"""
    WITH files AS (
        SELECT source,
               {sql_h64("'file|' || CAST(doc_id AS VARCHAR)")}
                   % {COMPACT_FILE_BUCKETS} AS file_id_grp,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS bytes
        FROM documents
        GROUP BY 1, 2
    ), packed AS (
        SELECT source, n_docs, bytes,
               COALESCE(SUM(bytes) OVER (
                   PARTITION BY source ORDER BY file_id_grp
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) // {COMPACT_TARGET_BYTES} AS bin
        FROM files
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_files_before,
           CAST(COUNT(DISTINCT bin) AS BIGINT) AS n_files_after,
           CAST(SUM(bytes) AS BIGINT) AS total_bytes,
           CAST(SUM(CASE WHEN bytes < {COMPACT_TARGET_BYTES} THEN 1
                         ELSE 0 END) AS BIGINT) AS small_before,
           (1000 * CAST(SUM(bytes) AS BIGINT))
               // (COUNT(DISTINCT bin) * {COMPACT_TARGET_BYTES})
               AS fill_pm
    FROM packed
    GROUP BY source
    ORDER BY source
    """)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner — the math behind a lakehouse
    OPTIMIZE/rewrite pass at 100 TB, where millions of sub-target files
    (streaming micro-batch commits, per-executor writes) throttle scan
    throughput via open() overhead and tiny row groups. Synthetic
    "files" (hash-bucketed document groups per source partition) are
    packed partition-locally in file order by cumulative-size binning:
    a file joins bin floor(preceding_bytes / target) — whole files are
    never split, bins land within one file of the target. The report
    gives per-partition file counts before/after, the sub-target file
    census, and the planned fill factor (permille of target; >1000 =
    last-file overflow absorbed).

    Scale: planning touches only file-level METADATA (count, bytes) —
    never row data; the window runs per source partition so the plan
    parallelizes across partitions, exactly how table services schedule
    compaction jobs."""
    from pyspark.sql import Window
    docs = _table(spark, sf_dir, "documents")
    fid = h64(F.concat(F.lit("file|"), F.col("doc_id").cast("string")))
    files = (docs.groupBy(
        "source",
        (fid % COMPACT_FILE_BUCKETS).alias("file_id_grp"))
        .agg(F.count("*").cast("long").alias("n_docs"),
             F.sum("n_chars").cast("long").alias("bytes")))
    w = (Window.partitionBy("source").orderBy("file_id_grp")
         .rowsBetween(Window.unboundedPreceding, -1))
    packed = (files
              .withColumn("cum_before", F.sum("bytes").over(w))
              .withColumn(
                  "bin",
                  F.expr("COALESCE(cum_before, 0)"
                         f" div {COMPACT_TARGET_BYTES}")))
    return (
        packed.groupBy("source")
        .agg(F.count("*").cast("long").alias("n_files_before"),
             F.countDistinct("bin").cast("long").alias("n_files_after"),
             F.sum("bytes").cast("long").alias("total_bytes"),
             F.sum(F.when(F.col("bytes") < COMPACT_TARGET_BYTES, 1)
                   .otherwise(0)).cast("long").alias("small_before"))
        .withColumn(
            "fill_pm",
            F.expr(f"(1000 * total_bytes)"
                   f" div (n_files_after * {COMPACT_TARGET_BYTES})"))
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Registered query: skew-resistant salted fact⋈dim join
# ---------------------------------------------------------------------------

from columnar_estimator_sample_spark.functions.exact import dsum, sql_dsum

SALT_N = 8


@register(
    "q_skew_salted_join",
    oracle=f"""
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
)
def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-nation revenue via a SALTED fact⋈dim join: the big side
    is scattered by a key-independent per-row salt and the dim side
    replicated ``SALT_N`` ways, so a hot supplier's rows spread over
    ``SALT_N`` tasks instead of stalling one straggler. The dim side is
    hinted ``shuffle_hash`` to force the shuffled regime salting exists
    for — under broadcast the salt is decorative (and at this dim size
    Spark WOULD broadcast; the hint makes the registered plan the one
    that matters at 100 TB, where AQE skew-split handles sort-merge
    spills but a deliberately salted shuffle-hash join is the
    deterministic fix when a single key exceeds a task's memory).
    Salting changes only row placement, never the multiset of joined
    rows — the plain-join oracle certifies that.

    Scale: shuffle volume is fact + SALT_N·dim (dims are tiny); the
    nation attach stays a plain broadcast; the final aggregate is
    map-side partial on 25 groups.
    """
    li = _table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount")
    sup = (_table(spark, sf_dir, "supplier")
           .select(F.col("s_suppkey").alias("l_suppkey"), "s_nationkey")
           .hint("shuffle_hash"))
    nation = _table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name")
    joined = salted_join(li, sup, "l_suppkey", n_salts=SALT_N)
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        joined.join(F.broadcast(nation),
                    F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).cast("long").alias("n_items"),
             dsum(revenue, "revenue"))
        .orderBy("n_name")
    )


# Training-export shard count. Real exports write O(10k) shards; 16
# keeps the census readable at test SFs while the assignment rule is
# the one that runs at any shard count.
NSHARDS = 16


@register(
    "q_shard_layout",
    oracle=f"""
    WITH s AS (
        SELECT CAST({sql_h64("CAST(doc_id AS VARCHAR)")} % {{n}} AS
                   INTEGER) AS shard_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               source, lang
        FROM documents
    ),
    per AS (
        SELECT shard_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
        FROM s GROUP BY shard_id
    ),
    tot AS (SELECT SUM(n_docs) AS t FROM per)
    SELECT shard_id, n_docs, sum_tokens, n_sources, n_langs,
           CAST((n_docs * {{n}} * 1000) // t AS BIGINT) AS load_permille
    FROM per, tot
    ORDER BY shard_id
    """.replace("{n}", str(NSHARDS)),
)
def q_shard_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-export shard layout: every document is assigned to one
    of ``NSHARDS`` shards by a deterministic content-independent hash of
    its id (the portable md5 lane, so the oracle reproduces the exact
    assignment), and the census reports per-shard document count, token
    mass, source/language spread, and ``load_permille`` — the shard's
    share of the corpus scaled so a perfectly balanced shard reads 1000.
    The layout face of the reference's file-interleave parallelism
    (trainer.py:216-238): downstream trainers stream shards
    independently, so shard-size skew IS the straggler budget.

    Scale: one hash-keyed groupBy (the only shuffle), then the corpus
    total joins back as a broadcast one-row aggregate; output is
    |shards| rows regardless of corpus size. At a real export the same
    plan writes `partitionBy(shard_id)` with one task per shard."""
    docs = _table(spark, sf_dir, "documents")
    sh = docs.select(
        (h64(F.col("doc_id").cast("string")) % F.lit(NSHARDS))
        .cast("int").alias("shard_id"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        "source", "lang",
    )
    per = (sh.groupBy("shard_id")
           .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("n_tokens").alias("sum_tokens"),
                F.countDistinct("source").alias("n_sources"),
                F.countDistinct("lang").alias("n_langs")))
    tot = per.agg(F.sum("n_docs").alias("__t"))
    return (
        per.crossJoin(F.broadcast(tot))
        .withColumn("load_permille",
                    F.expr(f"(n_docs * {NSHARDS} * 1000) DIV __t"))
        .drop("__t")
        .orderBy("shard_id")
    )
