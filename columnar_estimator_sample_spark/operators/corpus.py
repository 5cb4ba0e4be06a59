"""Training-corpus preparation operators: sequence packing, stratified
sampling, quantile gating, PII redaction, benchmark-contamination checks.

These extend the engine beyond the reference's feature pipeline
(/root/reference/trainer.py:236-267 stops at per-example feature
transforms) with the corpus-level passes an LLM training-data pipeline
runs between raw documents and the trainer: pack documents into
fixed-size context windows, rebalance languages, gate on per-group
length quantiles, scrub PII-shaped spans, and screen the training split
against an eval set for n-gram contamination.

Everything is pure Catalyst (split/regexp/window/hash-agg — no Python
UDFs), and every shuffle is keyed so the plan survives 100 TB:

* packing uses a TWO-PHASE cumulative sum (per-range-partition local
  cumsum + a tiny partition-offset table broadcast back) instead of a
  single global window, so no task ever sees more than one range
  partition of the corpus;
* sampling/redaction are stateless maps that fold into the scan;
* the contamination join explodes n-grams only on the (small) eval side
  into a broadcast, so the 100 TB training side is never shuffled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from columnar_estimator_sample_spark.functions.hashing import h64, sql_h64
from columnar_estimator_sample_spark.registry import register
from columnar_estimator_sample_spark.operators.textstats import (
    _DOC_LM_SQL,
)
from columnar_estimator_sample_spark.sources.tables import (
    memo, table,
)

# Context-window size (tokens) for sequence packing.
CTX = 256

# Per-language keep rates (permille) for stratified sampling: downsample
# the dominant language, keep the tail.
EN_PERMILLE = 100
OTHER_PERMILLE = 500


def two_phase_cumsum(df: DataFrame, order_col, value_col: str,
                     out_col: str, n_parts: int = 32) -> DataFrame:
    """Global running sum of ``value_col`` in ``order_col`` order WITHOUT
    a single-partition window.

    Phase 1 range-partitions on the order column and computes a local
    cumsum per partition (each task scans only its slice). Phase 2
    aggregates one total per partition — a ``n_parts``-row frame — runs
    the offset cumsum on that tiny frame, and broadcasts it back. This is
    the standard scalable prefix-sum shape: the only global ordering work
    happens on ``n_parts`` rows, so it holds at any corpus size, unlike
    ``Window.orderBy(...)`` with no partitionBy (which Spark executes as
    ONE task holding the whole table).

    ``order_col`` is a column name or a LIST of sort expressions
    (e.g. ``[F.desc("n_shared"), "train_gid"]`` — r14, for the
    multi-key cum-prefix consumers). Rows within equal order values
    must be unique (here: doc_id / the key tiebreaks).
    """
    order_exprs = order_col if isinstance(order_col, list) else [order_col]
    ranged = df.repartitionByRange(n_parts, *order_exprs).withColumn(
        "__pid", F.spark_partition_id())
    w_local = (Window.partitionBy("__pid").orderBy(*order_exprs)
               .rowsBetween(Window.unboundedPreceding, 0))
    # The frame feeds BOTH the offsets aggregate and the final join, and
    # repartitionByRange's sampled boundaries depend on upstream row
    # ORDER — two independent recomputations can land boundary rows in
    # different partitions, mismatching the offsets against the layout
    # they're joined to (caught by the r14 sf0.1 full-registry sweep on
    # q_rfm_segments). Checkpointing pins ONE layout for both consumers.
    local = (ranged.withColumn("__local_cum",
                               F.sum(value_col).over(w_local))
             .localCheckpoint(eager=False))
    # n_parts rows: safe to window globally and broadcast.
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (local.groupBy("__pid")
               .agg(F.sum(value_col).alias("__pid_total"))
               .withColumn("__offset",
                           F.coalesce(F.sum("__pid_total").over(w_off),
                                      F.lit(0)))
               .select("__pid", "__offset"))
    return (local.join(F.broadcast(offsets), "__pid")
            .withColumn(out_col, F.col("__local_cum") + F.col("__offset"))
            .drop("__pid", "__local_cum", "__offset"))


def two_phase_rank(df: DataFrame, order_exprs: list, out_col: str,
                   n_parts: int = 32) -> DataFrame:
    """Global ROW_NUMBER in the total order given by ``order_exprs``
    (sort expressions, e.g. ``[F.desc("frequency"), "custkey"]``)
    WITHOUT a single-partition window — :func:`two_phase_cumsum`'s
    shape applied to ranking (r14: replaces the corpus-sized
    ``Window.orderBy`` ranks the plan-audit window gate flagged).

    Phase 1 range-partitions on the sort order and runs a LOCAL
    row_number per partition; phase 2 cumulates one count per partition
    (an ``n_parts``-row frame) into broadcast offsets. Correct for any
    range split because range partitioning preserves global order
    across partitions; ``order_exprs`` must be a total order (unique
    tiebreak key), same contract as the window it replaces."""
    ranged = df.repartitionByRange(n_parts, *order_exprs).withColumn(
        "__pid", F.spark_partition_id())
    w_local = Window.partitionBy("__pid").orderBy(*order_exprs)
    # checkpoint for the same double-consumer layout-pinning reason as
    # two_phase_cumsum above
    local = (ranged.withColumn("__lrn", F.row_number().over(w_local))
             .localCheckpoint(eager=False))
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (local.groupBy("__pid")
               .agg(F.count(F.lit(1)).alias("__pid_n"))
               .withColumn("__offset",
                           F.coalesce(F.sum("__pid_n").over(w_off),
                                      F.lit(0)))
               .select("__pid", "__offset"))
    return (local.join(F.broadcast(offsets), "__pid")
            .withColumn(out_col,
                        (F.col("__lrn") + F.col("__offset")).cast("long"))
            .drop("__pid", "__lrn", "__offset"))


@register(
    "q_pack_chunks",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, n_tokens,
               SUM(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tokens AS start
        FROM t
    )
    SELECT CAST(FLOOR(start / {CTX}.0) AS BIGINT) AS chunk_id,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc,
           CAST(SUM(n_tokens) AS BIGINT) AS chunk_tokens
    FROM c
    GROUP BY 1
    ORDER BY chunk_id
    """,
)
def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing, concatenate-and-chunk flavor: documents are
    concatenated in doc_id order into one token stream and cut into
    fixed CTX-token context windows; each document is attributed to the
    chunk containing its first token. Per chunk: document count, id
    range, and token mass.

    The global token-offset prefix sum uses :func:`two_phase_cumsum`, so
    the plan has no single-task global window — the 100 TB shape.
    """
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens"))
    cum = two_phase_cumsum(toks, "doc_id", "n_tokens", "cum_tokens")
    packed = cum.withColumn(
        "chunk_id",
        F.floor((F.col("cum_tokens") - F.col("n_tokens")) / F.lit(CTX)))
    return (
        packed.groupBy("chunk_id")
        .agg(F.count("*").alias("n_docs"),
             F.min("doc_id").alias("first_doc"),
             F.max("doc_id").alias("last_doc"),
             F.sum("n_tokens").alias("chunk_tokens"))
        .orderBy("chunk_id")
    )


@register(
    "q_sample_stratified",
    oracle=f"""
    WITH s AS (
        SELECT lang,
               CASE WHEN lang = 'en' THEN {EN_PERMILLE}
                    ELSE {OTHER_PERMILLE} END AS target_permille,
               CASE WHEN {sql_h64("'strat|' || CAST(doc_id AS VARCHAR)")}
                         % 1000
                    < CASE WHEN lang = 'en' THEN {EN_PERMILLE}
                           ELSE {OTHER_PERMILLE} END
                    THEN 1 ELSE 0 END AS kept
        FROM documents
    )
    SELECT lang,
           CAST(MIN(target_permille) AS BIGINT) AS target_permille,
           COUNT(*) AS n_total,
           CAST(SUM(kept) AS BIGINT) AS n_kept,
           CAST(SUM(kept) AS DOUBLE) / COUNT(*) AS observed_rate
    FROM s
    GROUP BY lang
    ORDER BY lang
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-language keep rates
    (downsample dominant 'en', keep the tail) decided by a salted
    portable hash of the doc id — reproducible across engines and runs,
    no RNG state. The decision is a stateless map folded into the scan;
    only per-language counters shuffle.
    """
    docs = table(spark, sf_dir, "documents")
    rate = (F.when(F.col("lang") == "en", F.lit(EN_PERMILLE))
            .otherwise(F.lit(OTHER_PERMILLE)))
    h = h64(F.concat(F.lit("strat|"), F.col("doc_id").cast("string")))
    kept = F.when(F.pmod(h, F.lit(1000)) < rate, 1).otherwise(0)
    return (
        docs.select("lang", rate.alias("target_permille"),
                    kept.alias("kept"))
        .groupBy("lang")
        .agg(F.min("target_permille").cast("long").alias("target_permille"),
             F.count("*").alias("n_total"),
             F.sum("kept").cast("long").alias("n_kept"),
             (F.sum("kept").cast("double") / F.count("*"))
             .alias("observed_rate"))
        .orderBy("lang")
    )


@register(
    "q_quantile_filter",
    oracle="""
    WITH r AS (
        SELECT lang, doc_id, n_chars,
               percent_rank() OVER (PARTITION BY lang
                                    ORDER BY n_chars, doc_id) AS pr
        FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_kept,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
    FROM r
    WHERE pr >= 0.1 AND pr <= 0.9
    GROUP BY lang
    ORDER BY lang
    """,
)
def q_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language length-quantile gate: drop documents below the p10 or
    above the p90 of their language's length distribution (the shape of a
    Gopher-style outlier filter), then summarize what survives.

    ``percent_rank`` is computed per language, so the only shuffle is the
    lang-keyed exchange; ties are broken by doc_id so the rank (and the
    kept set) is deterministic in both engines. At 100 TB a language is
    still one partition's worth of WINDOW state — for truly skewed
    single-language corpora, swap in approx_percentile thresholds
    computed in a first aggregate pass (same plan shape as q_percentiles).
    """
    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    ranked = docs.select("lang", "doc_id", "n_chars",
                         F.percent_rank().over(w).alias("pr"))
    return (
        ranked.filter((F.col("pr") >= 0.1) & (F.col("pr") <= 0.9))
        .groupBy("lang")
        .agg(F.count("*").alias("n_kept"),
             F.min("n_chars").cast("long").alias("min_chars"),
             F.max("n_chars").cast("long").alias("max_chars"),
             (F.sum("n_chars").cast("double") / F.count("*"))
             .alias("avg_chars"))
        .orderBy("lang")
    )


@register(
    "q_pii_redaction",
    oracle="""
    WITH lines AS (
        SELECT event_type,
               event_type || ' user=' || CAST(user_id AS VARCHAR)
                          || ' props=' || props AS line
        FROM events
    ),
    red AS (
        SELECT event_type,
               len(regexp_extract_all(line, '[0-9]+')) AS n_spans,
               regexp_replace(line, '[0-9]+', '<NUM>', 'g') AS redacted
        FROM lines
    )
    SELECT event_type,
           COUNT(*) AS n_lines,
           CAST(SUM(n_spans) AS BIGINT) AS n_redacted_spans,
           COUNT(DISTINCT redacted) AS n_distinct_redacted,
           MIN(redacted) AS sample_redacted
    FROM red
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-shaped span scrubbing over event log lines: every numeric run
    (ids, counters — the stand-in for phones/SSNs in this synthetic
    corpus) is replaced with a ``<NUM>`` sentinel, and the pass reports
    span counts and the distinct redacted shapes per event type.

    regexp_extract_all + regexp_replace are whole-stage-codegen'd; the
    redaction is a stateless map, so at 100 TB this is scan-speed. The
    regex sticks to character classes, which behave identically in Java
    (Spark) and DuckDB ('g' flag = Java's replace-all).
    """
    ev = table(spark, sf_dir, "events")
    line = F.concat(F.col("event_type"), F.lit(" user="),
                    F.col("user_id").cast("string"),
                    F.lit(" props="), F.col("props"))
    red = ev.select(
        "event_type",
        F.size(F.regexp_extract_all(line, F.lit("[0-9]+"), 0))
        .alias("n_spans"),
        F.regexp_replace(line, "[0-9]+", "<NUM>").alias("redacted"))
    return (
        red.groupBy("event_type")
        .agg(F.count("*").alias("n_lines"),
             F.sum("n_spans").cast("long").alias("n_redacted_spans"),
             F.countDistinct("redacted").alias("n_distinct_redacted"),
             F.min("redacted").alias("sample_redacted"))
        .orderBy("event_type")
    )


@register(
    "q_source_mixture",
    oracle=f"""
    WITH counts AS (
        SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    ),
    mx AS (SELECT MAX(n_docs) AS max_n FROM counts),
    w AS (
        SELECT source, n_docs,
               CAST(mx.max_n * 1000 // n_docs AS BIGINT) AS weight_permille
        FROM counts, mx
    ),
    rep AS (
        SELECT d.source, w.n_docs, w.weight_permille,
               w.weight_permille // 1000
               + CASE WHEN {sql_h64("'mix|' || CAST(d.doc_id AS VARCHAR)")}
                           % 1000 < w.weight_permille % 1000
                      THEN 1 ELSE 0 END AS n_rep
        FROM documents d JOIN w ON w.source = d.source
    )
    SELECT source,
           CAST(MIN(n_docs) AS BIGINT) AS n_docs,
           CAST(MIN(weight_permille) AS BIGINT) AS weight_permille,
           CAST(SUM(n_rep) AS BIGINT) AS n_emitted
    FROM rep
    GROUP BY source
    ORDER BY source
    """,
)
def q_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture rebalancing by oversampling: every source is repeated up
    to the LARGEST source's count (uniform target mixture). Per-document
    repeat = floor(weight) epochs plus one fractional epoch admitted by
    a salted hash — the distributed form of the reference's repeat()
    stage (epoch iteration, /root/reference/trainer.py:219-224), with
    integer-permille arithmetic so both engines agree exactly.

    The Spark side MATERIALIZES the oversampled stream (explode over a
    repeat sequence — what a trainer would consume) and then audits it;
    at 100 TB the explode is a narrow map (no shuffle) and the audit
    aggregate is the only exchange.
    """
    docs = table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    max_n = counts.agg(F.max("n_docs").alias("max_n"))
    w = (counts.crossJoin(F.broadcast(max_n))
         .withColumn("weight_permille",
                     F.expr("max_n * 1000 DIV n_docs"))
         .select("source", "n_docs", "weight_permille"))
    h = h64(F.concat(F.lit("mix|"), F.col("doc_id").cast("string")))
    rep = (docs.join(F.broadcast(w), "source")
           .withColumn(
               "n_rep",
               F.expr("weight_permille DIV 1000")
               + F.when(F.pmod(h, F.lit(1000))
                        < F.col("weight_permille") % 1000, 1).otherwise(0)))
    emitted = rep.select(
        "source", "n_docs", "weight_permille", "doc_id",
        F.explode(F.sequence(F.lit(1), F.col("n_rep"))).alias("epoch"))
    return (
        emitted.groupBy("source")
        .agg(F.min("n_docs").cast("long").alias("n_docs"),
             F.min("weight_permille").cast("long").alias("weight_permille"),
             F.count("*").cast("long").alias("n_emitted"))
        .orderBy("source")
    )


@register(
    "q_split_by_user",
    oracle=f"""
    WITH s AS (
        SELECT CASE WHEN {sql_h64("'split|' || CAST(user_id AS VARCHAR)")}
                         % 100 < 80
                    THEN 'train' ELSE 'heldout' END AS split,
               user_id, event_id
        FROM events
    )
    SELECT split,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events
    FROM s
    GROUP BY split
    ORDER BY split
    """,
)
def q_split_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/heldout split: the split decision hashes the
    USER, not the event, so every event of a user lands on the same side
    — no cross-split identity leakage, the property a random row-level
    split silently violates. Deterministic (salted portable hash), so the
    split is reproducible run-to-run and engine-to-engine.

    Scale: a stateless map + one two-column aggregate; nothing about the
    100 TB event log is ordered or windowed.
    """
    ev = table(spark, sf_dir, "events")
    h = h64(F.concat(F.lit("split|"), F.col("user_id").cast("string")))
    split = (F.when(F.pmod(h, F.lit(100)) < 80, "train")
             .otherwise("heldout"))
    return (
        ev.select(split.alias("split"), "user_id", "event_id")
        .groupBy("split")
        .agg(F.countDistinct("user_id").alias("n_users"),
             F.count("*").alias("n_events"))
        .orderBy("split")
    )


@register(
    "q_seqlen_histogram",
    oracle="""
    WITH t AS (
        SELECT CAST(len(string_split(text, ' ')) // 8 * 8 AS BIGINT)
                   AS bin_lo
        FROM documents
    ),
    b AS (
        SELECT bin_lo, COUNT(*) AS n_docs FROM t GROUP BY bin_lo
    )
    SELECT bin_lo, n_docs,
           CAST(SUM(n_docs) OVER (ORDER BY bin_lo
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_docs,
           CAST(SUM(n_docs) OVER (ORDER BY bin_lo
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               / SUM(n_docs) OVER () AS cum_frac
    FROM b
    ORDER BY bin_lo
    """,
)
def q_seqlen_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length distribution in 8-token bins with cumulative
    share — the packing-efficiency diagnostic (how much of the corpus
    fits a CTX window, where truncation would bite).

    The global window runs over the BINNED aggregate (a few hundred rows
    at any corpus size), not the documents — histogram first, cumsum on
    the histogram.
    """
    docs = table(spark, sf_dir, "documents")
    bins = (docs.select(
        (F.floor(F.size(F.split("text", " ")) / 8) * 8)
        .cast("long").alias("bin_lo"))
        .groupBy("bin_lo").agg(F.count("*").alias("n_docs")))
    w_cum = Window.orderBy("bin_lo").rowsBetween(
        Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    return (
        bins.withColumn("cum_docs", F.sum("n_docs").over(w_cum))
        .withColumn("cum_frac",
                    F.col("cum_docs").cast("double")
                    / F.sum("n_docs").over(w_all))
        .orderBy("bin_lo")
    )


CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


@register(
    "q_chunk_sliding",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents WHERE doc_id < 50
    ),
    c AS (
        SELECT doc_id,
               unnest(range(0, greatest(
                   (len(toks) - {CHUNK_TOKENS} + {CHUNK_STRIDE} - 1)
                       // {CHUNK_STRIDE} + 1, 1))) AS chunk_idx,
               toks
        FROM t
    )
    SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(len(toks[chunk_idx * {CHUNK_STRIDE} + 1 :
                     chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS}])
                AS BIGINT) AS n_tokens,
           md5(array_to_string(
               toks[chunk_idx * {CHUNK_STRIDE} + 1 :
                    chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS}], ' '))
               AS chunk_digest
    FROM c
    ORDER BY doc_id, chunk_idx
    """,
)
def q_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking with overlap (size {CHUNK_TOKENS}, stride
    {CHUNK_STRIDE}) — the RAG/embedding-indexing shape where consecutive
    chunks share {CHUNK_TOKENS}-{CHUNK_STRIDE} tokens of context. Emits
    (doc, chunk_idx, token count, content digest) per chunk; bounded to
    doc_id < 50 to keep the oracle surface small — the plan is identical
    unbounded.

    Scale: chunk fan-out is a narrow explode over a per-doc index
    sequence + array slice — no shuffle at all until a downstream
    consumer aggregates; chunks inherit the scan's partitioning.
    """
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    n_chunks = F.expr(
        f"greatest((size(toks) - {CHUNK_TOKENS} + {CHUNK_STRIDE} - 1)"
        f" DIV {CHUNK_STRIDE} + 1, 1)")
    chunk = F.expr(
        f"slice(toks, chunk_idx * {CHUNK_STRIDE} + 1, {CHUNK_TOKENS})")
    return (
        docs.select("doc_id", F.split("text", " ").alias("toks"))
        .select("doc_id", "toks",
                F.explode(F.sequence(F.lit(0), n_chunks - 1))
                .alias("chunk_idx"))
        .select("doc_id",
                F.col("chunk_idx").cast("long").alias("chunk_idx"),
                F.size(chunk).cast("long").alias("n_tokens"),
                F.md5(F.array_join(chunk, " ")).alias("chunk_digest"))
        .orderBy("doc_id", "chunk_idx")
    )


@register(
    "q_sample_exact_k",
    oracle=f"""
    WITH r AS (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY {sql_h64("'exk|' || CAST(doc_id AS VARCHAR)")},
                            doc_id) AS rk
        FROM documents
    )
    SELECT lang, doc_id, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 5
    ORDER BY lang, rk
    """,
)
def q_sample_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-stratum sampling (k=5 per language): rank documents
    by a salted hash inside each stratum and keep the first k — the
    deterministic, engine-portable equivalent of per-group reservoir
    sampling (uniform because the hash order is independent of content).

    Scale: one lang-keyed exchange; the rank window never holds more
    than a stratum per task, and k rows per stratum survive.
    """
    docs = table(spark, sf_dir, "documents")
    h = h64(F.concat(F.lit("exk|"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    return (docs.select("lang", "doc_id",
                        F.row_number().over(w).cast("long").alias("rk"))
            .filter(F.col("rk") <= 5)
            .orderBy("lang", "rk"))


# Word-trigram helpers for contamination screening. Spark and DuckDB
# slice semantics are both 1-based; short docs degrade to one partial
# n-gram in both engines.
def _word3_expr(toks: str) -> F.Column:
    return F.expr(
        f"array_distinct(transform(sequence(1, greatest(size({toks}) - 2, 1)),"
        f" i -> array_join(slice({toks}, i, 3), ' ')))")


_SQL_WORD3 = ("list_distinct(list_transform("
              "range(1, greatest(len(toks) - 2, 1) + 1),"
              " i -> array_to_string(toks[i:i+2], ' ')))")


@register(
    "q_contamination_check",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    g AS (
        SELECT doc_id, {_SQL_WORD3} AS ngrams FROM d
    ),
    e AS (
        SELECT doc_id AS eval_doc, unnest(ngrams) AS ngram
        FROM g WHERE doc_id % 50 = 0
    ),
    t AS (
        SELECT doc_id AS train_doc, unnest(ngrams) AS ngram
        FROM g WHERE doc_id % 50 <> 0
    )
    SELECT t.train_doc, e.eval_doc, COUNT(*) AS n_shared
    FROM t JOIN e USING (ngram)
    GROUP BY 1, 2
    HAVING COUNT(*) >= 3
    ORDER BY n_shared DESC, train_doc, eval_doc
    LIMIT 20
    """,
)
def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination screen: find training documents sharing
    >= 3 distinct word trigrams with any held-out eval document (here:
    every 50th doc plays the eval set). Top-20 most-contaminated pairs
    with a full deterministic tiebreak.

    Scale shape (r6 — exact-dup contraction, same machinery as the LSH
    dedup tiers): on a replicated corpus the naive member-level ngram
    join blows up O(copies²) — every eval replica × every train replica
    of the same content re-counts the identical trigram intersection
    (measured 9.7× time at 30× data on the 30-way-duplicated sf3). So
    identical texts contract to min-id representatives FIRST
    (contract_exact_dups), trigram intersections are counted ONCE per
    distinct content pair, and member pairs are expanded afterwards —
    result-preserving because per-doc trigram sets are array_distinct'd
    and identical text ⇒ identical set. The expansion is bounded to the
    rep pairs that can reach the top-20 (running multiplicity window +
    tie closure at the cutoff n_shared); the global window runs over
    the distinct-content pair frame, which is corpus-content-bounded,
    not row-bounded. Only the (small) eval rep side broadcasts; the
    train corpus streams map-side and never repartitions.
    """
    from pyspark.sql.window import Window

    from columnar_estimator_sample_spark.operators.dedup import (
        contract_exact_dups,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    members, reps = contract_exact_dups(docs, "doc_id", "text")
    ev_m = members.filter(F.col("doc_id") % 50 == 0)
    tr_m = members.filter(F.col("doc_id") % 50 != 0)
    ev_sz = ev_m.groupBy("gid").agg(F.count("*").alias("n_ev"))
    tr_sz = tr_m.groupBy("gid").agg(F.count("*").alias("n_tr"))
    # r14: join each side's (small, broadcast) group census BEFORE the
    # trigram explode. Catalyst cannot push a join below Generate, so the
    # previous explode-then-join shape ran the split+slice+distinct
    # trigram kernel over the whole corpus TWICE (once inside the
    # broadcast eval build, once on the streaming train side — a
    # measured 1.4 s sampler-twin stage); join-then-explode is identical
    # row-for-row (the join key gid is explode-independent) and the eval
    # side now explodes only the ~2% eval groups.
    toks = reps.select(F.col("doc_id").alias("gid"),
                       F.split("text", " ").alias("toks"))
    evg = (toks.join(F.broadcast(ev_sz), "gid")
           .select(F.col("gid").alias("eval_gid"),
                   F.explode(_word3_expr("toks")).alias("ngram"), "n_ev"))
    trg = (toks.join(F.broadcast(tr_sz), "gid")
           .select(F.col("gid").alias("train_gid"),
                   F.explode(_word3_expr("toks")).alias("ngram"), "n_tr"))
    rep_pairs = (
        trg.join(F.broadcast(evg), "ngram")
        .groupBy("train_gid", "eval_gid")
        .agg(F.count("*").alias("n_shared"),
             F.min("n_tr").alias("n_tr"), F.min("n_ev").alias("n_ev"))
        .filter(F.col("n_shared") >= 3)
        .withColumn("mult", F.col("n_tr") * F.col("n_ev")))
    # keep the minimal n_shared-desc prefix whose member-pair
    # multiplicity covers 20, closing ties at the cutoff value — every
    # member pair that can reach the global top-20 survives. r14: the
    # running multiplicity is a range-partitioned two-phase prefix sum
    # (multi-key order) and the cutoff a broadcast 1-row aggregate — no
    # single-task window on the pair frame (plan-audit gate); the frame
    # is lazily checkpointed because both consumers reference it.
    cum = (two_phase_cumsum(
               rep_pairs,
               [F.desc("n_shared"), "train_gid", "eval_gid"],
               "mult", "cum_incl")
           .withColumn("cum_before",
                       F.col("cum_incl") - F.col("mult"))
           .localCheckpoint(eager=False))
    mk = cum.agg(F.min(F.when(F.col("cum_before") < 20,
                              F.col("n_shared"))).alias("min_kept"))
    cut = (cum.crossJoin(F.broadcast(mk))
           .filter(F.col("n_shared") >= F.col("min_kept")))
    return (
        cut.join(tr_m.select(F.col("gid").alias("train_gid"),
                             F.col("doc_id").alias("train_doc")),
                 "train_gid")
        .join(ev_m.select(F.col("gid").alias("eval_gid"),
                          F.col("doc_id").alias("eval_doc")),
              "eval_gid")
        .select("train_doc", "eval_doc", "n_shared")
        .orderBy(F.desc("n_shared"), "train_doc", "eval_doc")
        .limit(20)
    )


@register(
    "q_contamination_apply",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
    ),
    g AS MATERIALIZED (
        SELECT doc_id, {_SQL_WORD3} AS ngrams FROM d
    ),
    e AS (
        SELECT doc_id AS eval_doc, unnest(ngrams) AS ngram
        FROM g WHERE doc_id % 50 = 0
    ),
    t AS (
        SELECT doc_id AS train_doc, unnest(ngrams) AS ngram
        FROM g WHERE doc_id % 50 <> 0
    ),
    contam AS (
        SELECT DISTINCT train_doc FROM (
            SELECT t.train_doc, e.eval_doc
            FROM t JOIN e USING (ngram)
            GROUP BY 1, 2
            HAVING COUNT(*) >= 3)
    )
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS docs_before,
           CAST(SUM(CASE WHEN c.train_doc IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS docs_removed,
           CAST(SUM(CASE WHEN c.train_doc IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS docs_after,
           CAST(SUM(CASE WHEN c.train_doc IS NULL
                         THEN len(d.toks) ELSE 0 END) AS BIGINT)
               AS tokens_after,
           CAST(1000000 * SUM(CASE WHEN c.train_doc IS NOT NULL
                                   THEN 1 ELSE 0 END)
                // COUNT(*) AS BIGINT) AS removed_ppm
    FROM d LEFT JOIN contam c ON c.train_doc = d.doc_id
    WHERE d.doc_id % 50 <> 0
    GROUP BY d.lang
    ORDER BY d.lang
    """,
)
def q_contamination_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination APPLY — the removal step behind
    :func:`q_contamination_check`'s screen: drop every training document
    sharing >= 3 distinct word trigrams with ANY held-out eval document
    (every 50th doc plays the eval set), and census the cleaned training
    corpus per language: docs before/removed/after, tokens after,
    integer-ppm removed share. This is the step an LLM pipeline runs
    between benchmark ingestion and training-set freeze.

    Scale (same contraction discipline as the check, minus its top-k
    machinery): identical texts contract to min-id representatives, the
    trigram intersection is counted once per distinct content pair
    (only the eval GID SET is hint-broadcast; the exploded eval trigram
    frame grows with the corpus, so its join is left to
    autoBroadcastJoinThreshold — a shuffled hash join at scale), and
    contaminated representative ids expand back to members through the
    census frame.
    Unlike the check there is no global window at all — the verdict per
    train rep is a >=3 filter and a distinct."""
    from columnar_estimator_sample_spark.operators.dedup import (
        contract_exact_dups,
    )
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text")
    members, reps = contract_exact_dups(
        docs.select("doc_id", "text"), "doc_id", "text")
    ev_g = (members.filter(F.col("doc_id") % 50 == 0)
            .select("gid").distinct())
    tr_g = (members.filter(F.col("doc_id") % 50 != 0)
            .select("gid").distinct())
    grams = (reps.select(F.col("doc_id").alias("gid"),
                         F.split("text", " ").alias("toks"))
             .select("gid", F.explode(_word3_expr("toks")).alias("ngram")))
    evg = (grams.join(F.broadcast(ev_g), "gid")
           .select(F.col("gid").alias("eval_gid"), "ngram"))
    trg = (grams.join(tr_g, "gid")
           .select(F.col("gid").alias("train_gid"), "ngram"))
    # no broadcast hint: evg is ~2% of the corpus x every trigram —
    # far past broadcastable at the 100 TB design point; let AQE /
    # autoBroadcastJoinThreshold pick (it still broadcasts at test SFs)
    contam_g = (trg.join(evg, "ngram")
                .groupBy("train_gid", "eval_gid")
                .agg(F.count("*").alias("n_shared"))
                .filter(F.col("n_shared") >= 3)
                .select(F.col("train_gid").alias("gid")).distinct())
    contam_docs = (members.filter(F.col("doc_id") % 50 != 0)
                   .join(contam_g, "gid")
                   .select("doc_id", F.lit(1).alias("is_c")))
    train = (docs.filter(F.col("doc_id") % 50 != 0)
             .withColumn("n_toks",
                         F.size(F.split("text", " ")).cast("long")))
    return (train.join(contam_docs, "doc_id", "left")
            .groupBy("lang")
            .agg(F.count("*").cast("long").alias("docs_before"),
                 F.sum(F.when(F.col("is_c") == 1, 1).otherwise(0))
                 .cast("long").alias("docs_removed"),
                 F.sum(F.when(F.col("is_c").isNull(), 1).otherwise(0))
                 .cast("long").alias("docs_after"),
                 F.sum(F.when(F.col("is_c").isNull(), F.col("n_toks"))
                       .otherwise(0)).cast("long").alias("tokens_after"))
            .withColumn("removed_ppm",
                        F.expr("CAST(1000000 * docs_removed"
                               " DIV docs_before AS BIGINT)"))
            .orderBy("lang"))


# Per-language token budget as a permille of the scored pool: relative
# budgets keep the query meaningful at every scale factor (an absolute
# budget would trivially keep everything at sf0.001 and nothing at sf1).
PACK_BUDGET_PERMILLE = 200


@register(
    "q_token_budget_pack",
    oracle=f"""
    WITH {_DOC_LM_SQL},
    pool AS (
        SELECT s.doc_id, s.lang, s.lm_score_permille AS score,
               CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_toks
        FROM scores s JOIN documents d ON d.doc_id = s.doc_id
    ),
    bud AS (
        SELECT lang,
               CAST(SUM(n_toks) * {PACK_BUDGET_PERMILLE} // 1000
                    AS BIGINT) AS budget_tokens
        FROM pool GROUP BY lang
    ),
    ranked AS (
        SELECT lang, doc_id, score, n_toks,
               SUM(n_toks) OVER (PARTITION BY lang
                                 ORDER BY score DESC, doc_id) AS cum
        FROM pool
    ),
    kept AS (
        SELECT r.* FROM ranked r JOIN bud b USING (lang)
        WHERE r.cum <= b.budget_tokens
    )
    SELECT b.lang, b.budget_tokens,
           CAST(COUNT(k.doc_id) AS BIGINT) AS docs_kept,
           CAST(COALESCE(SUM(k.n_toks), 0) AS BIGINT) AS tokens_kept,
           CAST(COALESCE(MIN(k.score), -1) AS BIGINT) AS cut_score,
           CAST(1000000 * COALESCE(SUM(k.n_toks), 0)
                // GREATEST(b.budget_tokens, 1) AS BIGINT)
               AS utilization_ppm
    FROM bud b LEFT JOIN kept k USING (lang)
    GROUP BY b.lang, b.budget_tokens
    ORDER BY b.lang
    """,
)
def q_token_budget_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked selection under a token budget — the "fill the
    training mix" step: per language, keep the highest-LM-score
    documents (corpus-trained bigram LM, the CCNet-style quality signal
    of :func:`~columnar_estimator_sample_spark.operators.textstats.doc_lm_scores`)
    whose running token total stays within a budget of
    {PACK_BUDGET_PERMILLE}‰ of the language's scored pool. Prefix
    semantics: documents are ordered (score DESC, doc_id) and kept
    while the cumulative token count <= budget. Census per language:
    budget, docs/tokens kept, the score cut, integer-ppm budget
    utilization.

    Scale: NO global per-language sort. The integer permille score is
    its own <=1001-bucket histogram, so selection is two-phase: (1) a
    (lang, score) token-mass aggregate — tiny — carries the running
    mass of strictly-better tiers; (2) each document's exact cumulative
    position = its tier's prefix mass + a within-tier window
    partitioned by (lang, score) — an embarrassingly parallel shuffle,
    not an ordered repartition. The DuckDB oracle states the same
    selection as the naive single-window cumsum; identical kept sets
    because the two-phase decomposition is exact (unique (score,
    doc_id) order within every partition)."""
    from columnar_estimator_sample_spark.operators.textstats import (
        doc_lm_scores,
    )
    pool = (doc_lm_scores(spark, sf_dir)
            .select("doc_id", "lang",
                    F.col("lm_score_permille").alias("score"))
            .join(table(spark, sf_dir, "documents")
                  .select("doc_id",
                          F.size(F.split("text", " ")).cast("long")
                          .alias("n_toks")),
                  "doc_id"))
    return budget_pack(pool, PACK_BUDGET_PERMILLE)


def budget_pack(pool: DataFrame, budget_permille: int,
                n_parts: int = 32) -> DataFrame:
    """Two-phase ordered-prefix budget selection over a (doc_id, lang,
    score, n_toks) pool frame — the core of :func:`q_token_budget_pack`
    (see its docstring for the histogram decomposition and its exact
    equivalence to the naive per-language global-sort cumsum, which a
    property test replays on constructed pools).

    Skew note: per-document cumsums run ONLY inside each language's
    single BOUNDARY tier (the one the budget lands in) — tiers fully
    inside the budget keep all docs with no window, tiers fully outside
    keep none — and the boundary tier's prefix sum is itself two-phase
    (range partition on (lang, doc_id), local cumsum, per-lang offset
    table of ≤ n_parts·|langs| rows). A corpus where one score value
    holds millions of documents therefore never funnels into a
    single-task sort (the naive (lang, score) window would — measured
    7.8 s at 100× data; this shape cut it to ~4 s)."""
    # r15 NOTE: a lazy localCheckpoint on ``pool`` (it feeds FOUR
    # consumers) was tried and measured +0.17 s in an interleaved
    # two-JVM A/B at sf0.1 — the checkpoint write+read of the frame
    # costs more than the consumers' re-executed scan+tokenize subtree
    # here (the broadcast score join keeps each re-execution narrow).
    # Left un-checkpointed on that measurement.
    bud = (pool.groupBy("lang")
           .agg(F.expr(f"CAST(SUM(n_toks) * {budget_permille}"
                       " DIV 1000 AS BIGINT)").alias("budget_tokens")))
    tiers = (pool.groupBy("lang", "score")
             .agg(F.sum("n_toks").cast("long").alias("mass")))
    w_tier = (Window.partitionBy("lang").orderBy(F.desc("score"))
              .rowsBetween(Window.unboundedPreceding, -1))
    tiers = (tiers
             .withColumn("cum_before",
                         F.coalesce(F.sum("mass").over(w_tier), F.lit(0)))
             .join(F.broadcast(bud), "lang"))
    full = (tiers.filter(F.col("cum_before") + F.col("mass")
                         <= F.col("budget_tokens"))
            .select("lang", "score"))
    boundary = (tiers.filter((F.col("cum_before") < F.col("budget_tokens"))
                             & (F.col("cum_before") + F.col("mass")
                                > F.col("budget_tokens")))
                .select("lang", "score", "cum_before", "budget_tokens"))
    kept_full = pool.join(F.broadcast(full), ["lang", "score"])
    # boundary tier: per-lang prefix sum by doc_id WITHOUT a single-task
    # sort — range partition on (lang, doc_id), local cumsum, tiny
    # per-(partition, lang) offset table
    bdocs = (pool.join(F.broadcast(boundary), ["lang", "score"])
             .repartitionByRange(n_parts, "lang", "doc_id")
             .withColumn("__pid", F.spark_partition_id()))
    w_local = (Window.partitionBy("__pid", "lang").orderBy("doc_id")
               .rowsBetween(Window.unboundedPreceding, 0))
    local = bdocs.withColumn("__lc", F.sum("n_toks").over(w_local))
    w_off = (Window.partitionBy("lang").orderBy("__pid")
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = (local.groupBy("__pid", "lang")
               .agg(F.sum("n_toks").alias("__pt"))
               .withColumn("__off",
                           F.coalesce(F.sum("__pt").over(w_off), F.lit(0)))
               .select("__pid", "lang", "__off"))
    kept_boundary = (local.join(F.broadcast(offsets), ["__pid", "lang"])
                     .filter(F.col("cum_before") + F.col("__off")
                             + F.col("__lc") <= F.col("budget_tokens"))
                     .select("lang", "score", "doc_id", "n_toks"))
    kept = kept_full.select("lang", "score", "doc_id", "n_toks") \
        .unionByName(kept_boundary)
    return (bud.join(kept.groupBy("lang")
                     .agg(F.count("*").cast("long").alias("docs_kept"),
                          F.sum("n_toks").cast("long")
                          .alias("tokens_kept"),
                          F.min("score").cast("long").alias("cut_score")),
                     "lang", "left")
            .select("lang", "budget_tokens",
                    F.coalesce("docs_kept", F.lit(0)).cast("long")
                    .alias("docs_kept"),
                    F.coalesce("tokens_kept", F.lit(0)).cast("long")
                    .alias("tokens_kept"),
                    F.coalesce("cut_score", F.lit(-1)).cast("long")
                    .alias("cut_score"))
            .withColumn("utilization_ppm",
                        F.expr("CAST(1000000 * tokens_kept DIV "
                               "GREATEST(budget_tokens, 1) AS BIGINT)"))
            .orderBy("lang"))


# ---------------------------------------------------------------------------
# Temperature-based source mixture weights
# ---------------------------------------------------------------------------


@register(
    "q_source_temperature",
    oracle="""
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ), n AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens
        FROM toks WHERE len(tok) > 0 GROUP BY source
    ), sq AS (
        SELECT source, n_tokens,
               CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS isq
        FROM n
    ), tot AS (
        SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_n,
               CAST(SUM(isq) AS BIGINT) AS tot_sq
        FROM sq
    )
    SELECT s.source, s.n_tokens,
           (1000 * s.isq) // t.tot_sq AS temp_w_permille,
           (1000 * s.n_tokens) // t.tot_n AS prop_permille,
           ((1000 * s.isq) // t.tot_sq) * 1000
               // GREATEST((1000 * s.n_tokens) // t.tot_n, 1)
               AS boost_permille
    FROM sq s CROSS JOIN tot t
    ORDER BY s.source
    """)
def q_source_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture reweighting (alpha = 0.5): sampling
    weight per source proportional to sqrt(token count) — the standard
    low-resource up-weighting a multilingual/multi-source training run
    applies before q_source_mixture materializes epochs. Reports each
    source's raw token share, its temperature weight, and the oversample
    boost (weight/proportional, permille; >1000 = up-weighted tail).

    Determinism note: sqrt is the ONE float step; IEEE-754 sqrt is
    correctly rounded in both engines, and floor() of it feeds integer
    arithmetic, so the oracle matches bit for bit. Scale: one token scan
    collapses to a |sources|-row aggregate; weights normalize against a
    broadcast 1-row total."""
    docs = table(spark, sf_dir, "documents")
    n = (docs.select("source",
                     F.explode(F.split("text", " ")).alias("tok"))
         .filter(F.length("tok") > 0)
         .groupBy("source")
         .agg(F.count("*").cast("long").alias("n_tokens")))
    sq = n.withColumn(
        "isq",
        F.expr("CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT)"))
    tot = sq.agg(F.sum("n_tokens").cast("long").alias("tot_n"),
                 F.sum("isq").cast("long").alias("tot_sq"))
    return (sq.crossJoin(F.broadcast(tot))
            .select("source", "n_tokens",
                    F.expr("(1000 * isq) div tot_sq")
                    .alias("temp_w_permille"),
                    F.expr("(1000 * n_tokens) div tot_n")
                    .alias("prop_permille"))
            .withColumn("boost_permille",
                        F.expr("(temp_w_permille * 1000)"
                               " div GREATEST(prop_permille, 1)"))
            .orderBy("source"))


@register(
    "q_mixture_apply",
    oracle=f"""
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ), n AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens
        FROM toks WHERE len(tok) > 0 GROUP BY source
    ), sq AS (
        SELECT source, n_tokens,
               CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS isq
        FROM n
    ), tot AS (
        SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_n,
               CAST(SUM(isq) AS BIGINT) AS tot_sq
        FROM sq
    ), boost AS (
        SELECT s.source,
               ((1000000 * s.isq) // t.tot_sq) * 1000000
                   // GREATEST((1000000 * s.n_tokens) // t.tot_n, 1)
                   AS boost_ppm
        FROM sq s CROSS JOIN tot t
    ), adm AS (
        SELECT source,
               (1000000 * boost_ppm)
                   // (SELECT MAX(boost_ppm) FROM boost) AS adm_ppm
        FROM boost
    )
    SELECT d.source, a.adm_ppm,
           CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
           CAST(SUM(len(list_filter(string_split(d.text, ' '),
                                    x -> len(x) > 0))) AS BIGINT)
               AS n_tokens_kept
    FROM documents d JOIN adm a ON a.source = d.source
    WHERE {sql_h64("CAST(d.doc_id AS VARCHAR)")} % 1000000 < a.adm_ppm
    GROUP BY d.source, a.adm_ppm
    ORDER BY d.source
    """)
def q_mixture_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The temperature mixture APPLIED (one epoch, downsample-only):
    q_source_temperature computes each source's alpha=0.5 boost; this
    query turns the boosts into deterministic admission rates —
    normalized so the MOST up-weighted source keeps everything
    (``adm_ppm = 10⁶·boost/max_boost``) — and admits a document iff
    ``h64(doc_id) % 10⁶ < adm_ppm(source)``, the reproducible hash-mod
    sampling of q_hash_sample applied per-source. The whole rate chain
    runs at parts-per-MILLION precision (q_source_temperature's
    permille is a report granularity; flooring rates at permille
    zeroed any source below ~0.1% of the sqrt-mass AND could not
    express a heavy source's sub-1/1000 downsample rate against a
    strongly boosted tail — ppm pushes both cliffs three orders of
    magnitude out). The census reports
    each source's admission rate and the docs/tokens the mixed epoch
    actually keeps (up-sampling beyond one epoch is q_source_mixture's
    repeat machinery; composing the two is the standard XLM-R-style
    mix).

    Determinism: the one float step is IEEE sqrt (correctly rounded in
    both engines) feeding integer floors; admission is a pure function
    of (doc_id, source), so the kept set is bit-stable across engines,
    runs, and partitionings — no RNG. Scale: one token scan collapses
    to |sources| rows, rates broadcast back, and the admission filter
    is a scan-local predicate (no shuffle added by sampling)."""
    docs = table(spark, sf_dir, "documents")
    n = (docs.select("source",
                     F.explode(F.split("text", " ")).alias("tok"))
         .filter(F.length("tok") > 0)
         .groupBy("source")
         .agg(F.count("*").cast("long").alias("n_tokens")))
    sq = n.withColumn(
        "isq",
        F.expr("CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT)"))
    tot = sq.agg(F.sum("n_tokens").cast("long").alias("tot_n"),
                 F.sum("isq").cast("long").alias("tot_sq"))
    boost = (sq.crossJoin(F.broadcast(tot))
             .select("source",
                     F.expr("((1000000 * isq) DIV tot_sq) * 1000000"
                            " DIV GREATEST((1000000 * n_tokens)"
                            " DIV tot_n, 1)").alias("boost_ppm")))
    maxb = boost.agg(F.max("boost_ppm").alias("max_b"))
    adm = (boost.crossJoin(F.broadcast(maxb))
           .select("source",
                   F.expr("(1000000 * boost_ppm) DIV max_b")
                   .alias("adm_ppm")))
    kept = (docs.join(F.broadcast(adm), "source")
            .filter(h64(F.col("doc_id").cast("string")) % 1_000_000
                    < F.col("adm_ppm")))
    return (kept.groupBy("source", "adm_ppm")
            .agg(F.count("*").cast("long").alias("n_docs_kept"),
                 F.sum(F.size(F.filter(F.split("text", " "),
                                       lambda x: F.length(x) > 0)))
                 .cast("long").alias("n_tokens_kept"))
            .orderBy("source"))


# ---------------------------------------------------------------------------
# Cross-source overlap matrix (contamination generalized)
# ---------------------------------------------------------------------------

OVERLAP_TOP = 15


@register(
    "q_source_overlap",
    oracle=f"""
    WITH t AS (
        SELECT source, string_split(text, ' ') AS toks FROM documents
        WHERE len(string_split(text, ' ')) >= 3
    ), grams AS (
        SELECT DISTINCT source,
               unnest(list_transform(
                   range(1, len(toks) - 2 + 1),
                   i -> toks[CAST(i AS INT)] || ' '
                        || toks[CAST(i AS INT) + 1] || ' '
                        || toks[CAST(i AS INT) + 2])) AS gram
        FROM t
    ), sizes AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams
        FROM grams GROUP BY source
    ), inter AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM grams a JOIN grams b
          ON a.gram = b.gram AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT i.src_a, i.src_b, i.n_common,
           (1000 * i.n_common)
               // (sa.n_grams + sb.n_grams - i.n_common) AS jaccard_permille
    FROM inter i
    JOIN sizes sa ON sa.source = i.src_a
    JOIN sizes sb ON sb.source = i.src_b
    ORDER BY jaccard_permille DESC, src_a, src_b
    LIMIT {OVERLAP_TOP}
    """)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplicate overlap matrix: exact Jaccard
    similarity of the DISTINCT word-3-gram sets of every source pair —
    q_contamination_check generalized from train-vs-eval to all-pairs
    provenance auditing (shared boilerplate, mirrored scrapes, licensing
    leaks between corpus components).

    Scale: the gram census dedups per (source, gram) BEFORE the pair
    stage (map-side distinct), the intersection is a gram-keyed equi-join
    — the matrix never materializes N² documents, only |sources|² count
    cells — and sizes broadcast onto the tiny matrix. Top pairs by
    integer-permille Jaccard, total-ordered."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    grams3 = F.expr(
        "transform(sequence(1, greatest(size(toks) - 2, 1)),"
        " i -> concat(toks[i-1], ' ', toks[i], ' ', toks[i+1]))")
    grams = (docs.select("source", toks.alias("toks"))
             .filter(F.size("toks") >= 3)
             .select("source", F.explode(grams3).alias("gram"))
             .distinct())
    sizes = grams.groupBy("source").agg(
        F.count("*").cast("long").alias("n_grams"))
    a = grams.select(F.col("source").alias("src_a"),
                     F.col("gram").alias("gram"))
    b = grams.select(F.col("source").alias("src_b"),
                     F.col("gram").alias("gram"))
    inter = (a.join(b, "gram")
             .filter(F.col("src_a") < F.col("src_b"))
             .groupBy("src_a", "src_b")
             .agg(F.count("*").cast("long").alias("n_common")))
    sa = sizes.select(F.col("source").alias("src_a"),
                      F.col("n_grams").alias("na"))
    sb = sizes.select(F.col("source").alias("src_b"),
                      F.col("n_grams").alias("nb"))
    return (inter.join(F.broadcast(sa), "src_a")
            .join(F.broadcast(sb), "src_b")
            .select("src_a", "src_b", "n_common",
                    F.expr("(1000 * n_common) div (na + nb - n_common)")
                    .alias("jaccard_permille"))
            .orderBy(F.desc("jaccard_permille"), "src_a", "src_b")
            .limit(OVERLAP_TOP))


# ---------------------------------------------------------------------------
# ABC / Pareto classification (dogfoods two_phase_cumsum)
# ---------------------------------------------------------------------------

ABC_A_PM = 800   # class A: parts within the first 80% of revenue
ABC_B_PM = 950   # class B: up to 95%; the rest is C
_LCENTS = "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"


@register(
    "q_abc_parts",
    oracle=f"""
    WITH rev AS (
        SELECT l_partkey, CAST(SUM({_LCENTS}) AS BIGINT) AS rev_cents
        FROM lineitem GROUP BY l_partkey
    ), cum AS (
        SELECT l_partkey, rev_cents,
               CAST(SUM(rev_cents) OVER (
                   ORDER BY rev_cents DESC, l_partkey) AS BIGINT) AS cumrev
        FROM rev
    ), tot AS (SELECT CAST(SUM(rev_cents) AS BIGINT) AS t FROM rev),
    classed AS (
        SELECT CASE WHEN cumrev * 1000 <= {ABC_A_PM} * t THEN 'A'
                    WHEN cumrev * 1000 <= {ABC_B_PM} * t THEN 'B'
                    ELSE 'C' END AS abc_class,
               rev_cents
        FROM cum CROSS JOIN tot
    )
    SELECT c.abc_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(rev_cents) AS BIGINT) AS revenue_cents,
           (1000 * CAST(SUM(rev_cents) AS BIGINT)) // MAX(t.t)
               AS revenue_share_permille
    FROM classed c CROSS JOIN tot t
    GROUP BY abc_class
    ORDER BY abc_class
    """)
def q_abc_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) classification of parts by cumulative revenue share:
    class A carries the first {ABC_A_PM}‰ of revenue, B up to {ABC_B_PM}‰,
    C the tail — the inventory-analysis classic, and the registered
    showcase of :func:`two_phase_cumsum`: the global running sum over
    ~all parts runs as range-partitioned local cumsums plus a broadcast
    offset table, NEVER as a single-task global window (the naive
    Window.orderBy would serialize the part table through one task at
    100 TB). The unique integer order key packs (revenue DESC, partkey
    ASC) so ties cannot smear the cumsum across equal revenues.

    All comparisons are integer cross-multiplications (cumrev*1000 vs
    threshold*total) — no division until the 3-row report."""
    li = table(spark, sf_dir, "lineitem")
    rev = (li.groupBy("l_partkey")
           .agg(F.sum(F.expr(_LCENTS)).cast("long").alias("rev_cents")))
    # unique int64 order key: revenue desc, partkey asc (partkey < 1e7)
    keyed = rev.withColumn(
        "__ord", F.expr("-(rev_cents * 10000000) + l_partkey"))
    cum = two_phase_cumsum(keyed, "__ord", "rev_cents", "cumrev")
    tot = rev.agg(F.sum("rev_cents").cast("long").alias("t"))
    classed = (cum.crossJoin(F.broadcast(tot))
               .withColumn("abc_class", F.expr(
                   f"CASE WHEN cumrev * 1000 <= {ABC_A_PM} * t THEN 'A'"
                   f" WHEN cumrev * 1000 <= {ABC_B_PM} * t THEN 'B'"
                   f" ELSE 'C' END")))
    return (classed.groupBy("abc_class")
            .agg(F.count("*").cast("long").alias("n_parts"),
                 F.sum("rev_cents").cast("long").alias("revenue_cents"),
                 F.expr("(1000 * CAST(SUM(rev_cents) AS BIGINT)) div MAX(t)")
                 .alias("revenue_share_permille"))
            .orderBy("abc_class"))


# ---------------------------------------------------------------------------
# Deterministic negative sampling (contrastive pair construction)
# ---------------------------------------------------------------------------

NEG_PER_POS = 3


@register(
    "q_negative_sampling",
    oracle=f"""
    WITH pos AS (
        SELECT DISTINCT o.o_custkey AS custkey, l.l_partkey AS partkey
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ), np AS (SELECT MAX(partkey) AS maxp FROM pos),
    cand AS (
        SELECT p.custkey, i.i,
               1 + ({sql_h64("CAST(p.custkey AS VARCHAR) || '_' ||"
                             " CAST(i.i AS VARCHAR)")}) % n.maxp
                   AS cand_part
        FROM (SELECT DISTINCT custkey FROM pos) p
        CROSS JOIN (SELECT unnest(range(0, {NEG_PER_POS})) AS i) i
        CROSS JOIN np n
    ), checked AS (
        SELECT c.i, c.custkey,
               CASE WHEN p.partkey IS NULL THEN 0 ELSE 1 END AS collision
        FROM cand c LEFT JOIN pos p
          ON p.custkey = c.custkey AND p.partkey = c.cand_part
    )
    SELECT i AS attempt, CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(SUM(collision) AS BIGINT) AS n_collisions,
           (1000 * CAST(SUM(collision) AS BIGINT)) // COUNT(*)
               AS collision_permille
    FROM checked
    GROUP BY i
    ORDER BY i
    """)
def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training pairs:
    each customer's {NEG_PER_POS} candidate negatives are drawn by the
    portable hash (h64(custkey_i) mod |parts|) — reproducible across
    engines, shards, and reruns, unlike rand()-based samplers — and
    validated against the positive set with one LEFT join (a candidate
    that collides with a true positive is flagged, the standard
    rejection bookkeeping). Reports per attempt the collision rate —
    the quantity that tells you how many attempts the pipeline needs.

    Scale: the positives table is the only corpus-sized frame; the
    candidate fan-out is |users| x {NEG_PER_POS} narrow rows, and the
    validity check is an equi-join on the same (custkey, partkey) key
    layout the positives already shuffle on."""
    orders = table(spark, sf_dir, "orders").select("o_orderkey",
                                                   "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pos = (orders.join(li, orders.o_orderkey == li.l_orderkey)
           .select(F.col("o_custkey").alias("custkey"),
                   F.col("l_partkey").alias("partkey"))
           .distinct())
    np_ = pos.agg(F.max("partkey").alias("maxp"))
    users = pos.select("custkey").distinct()
    attempts = spark.range(NEG_PER_POS).select(F.col("id").alias("i"))
    cand = (users.crossJoin(F.broadcast(attempts))
            .crossJoin(F.broadcast(np_))
            .select("custkey", "i",
                    (1 + h64(F.concat_ws(
                        "_", F.col("custkey").cast("string"),
                        F.col("i").cast("string"))) % F.col("maxp"))
                    .alias("cand_part")))
    checked = (cand.join(
                   pos.withColumnRenamed("partkey", "cand_part")
                   .withColumn("hit", F.lit(1)),
                   ["custkey", "cand_part"], "left"))
    return (checked.groupBy(F.col("i").alias("attempt"))
            .agg(F.count("*").cast("long").alias("n_candidates"),
                 F.sum(F.coalesce("hit", F.lit(0))).cast("long")
                 .alias("n_collisions"))
            .withColumn("collision_permille",
                        F.expr("(1000 * n_collisions) div n_candidates"))
            .orderBy("attempt"))


# ---------------------------------------------------------------------------
# Sample-ratio-mismatch (SRM) check on the user split
# ---------------------------------------------------------------------------

SRM_TRAIN_PCT = 80  # q_split_by_user's intended allocation


@register(
    "q_srm_check",
    oracle=f"""
    WITH u AS (
        SELECT DISTINCT user_id FROM events
    ), s AS (
        SELECT CASE WHEN ({sql_h64(
            "'split|' || CAST(user_id AS VARCHAR)")}) % 100
                    < {SRM_TRAIN_PCT}
               THEN 'train' ELSE 'heldout' END AS split
        FROM u
    ), c AS (
        SELECT split, CAST(COUNT(*) AS BIGINT) AS n FROM s GROUP BY split
    ), tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM c)
    SELECT c.split, c.n,
           CASE WHEN c.split = 'train'
                THEN (t.t * {SRM_TRAIN_PCT}) // 100
                ELSE t.t - (t.t * {SRM_TRAIN_PCT}) // 100 END AS expected_n,
           (1000 * c.n) // t.t AS share_permille,
           ABS((1000 * c.n) // t.t
               - CASE WHEN c.split = 'train' THEN {SRM_TRAIN_PCT} * 10
                      ELSE 1000 - {SRM_TRAIN_PCT} * 10 END)
               AS deviation_permille
    FROM c CROSS JOIN tot t
    ORDER BY c.split
    """)
def q_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check: does the deterministic user split
    (q_split_by_user's salted-hash rule, restated identically here)
    actually land {SRM_TRAIN_PCT}/20? Reports observed vs expected
    counts and the permille deviation from nominal — the first
    diagnostic an experimentation platform runs before trusting any A/B
    readout (a biased assignment hash invalidates everything
    downstream).

    Scale: a distinct-user aggregate and a 2-row report."""
    ev = table(spark, sf_dir, "events")
    u = ev.select("user_id").distinct()
    h = h64(F.concat(F.lit("split|"), F.col("user_id").cast("string")))
    c = (u.select((F.when(F.pmod(h, F.lit(100)) < SRM_TRAIN_PCT, "train")
                   .otherwise("heldout")).alias("split"))
         .groupBy("split").agg(F.count("*").cast("long").alias("n")))
    tot = c.agg(F.sum("n").cast("long").alias("t"))
    return (c.crossJoin(F.broadcast(tot))
            .select("split", "n",
                    F.expr(f"CASE WHEN split = 'train'"
                           f" THEN (t * {SRM_TRAIN_PCT}) div 100"
                           f" ELSE t - (t * {SRM_TRAIN_PCT}) div 100 END")
                    .alias("expected_n"),
                    F.expr("(1000 * n) div t").alias("share_permille"),
                    F.expr(f"ABS((1000 * n) div t"
                           f" - CASE WHEN split = 'train'"
                           f" THEN {SRM_TRAIN_PCT} * 10"
                           f" ELSE 1000 - {SRM_TRAIN_PCT} * 10 END)")
                    .alias("deviation_permille"))
            .orderBy("split"))


# ---------------------------------------------------------------------------
# A/B test readout (two-proportion z-test, float-free)
# ---------------------------------------------------------------------------

# z²_critical at 95% two-sided = 1.959964² = 3.841459; kept as the exact
# rational 3841459/1000000 so the significance inequality is pure-integer
AB_Z2_NUM = 3_841_459
AB_Z2_DEN = 1_000_000
AB_SUCCESS_MIN = 14  # success = a "heavy buyer": >= 14 purchase events
                     # (above the corpus median of 13 — every user makes
                     # SOME purchase, so raw conversion would be 100%)


@register(
    "q_ab_test",
    oracle=f"""
    WITH u AS (
        SELECT user_id,
               CASE WHEN COUNT(CASE WHEN event_type = 'purchase'
                                    THEN 1 END) >= 14
                    THEN 1 ELSE 0 END AS converted
        FROM events GROUP BY user_id
    ), armed AS (
        SELECT CASE WHEN {sql_h64("'ab|' || CAST(user_id AS VARCHAR)")}
                         % 2 = 0
                    THEN 'A' ELSE 'B' END AS arm,
               converted
        FROM u
    ), agg AS (
        SELECT CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS HUGEINT)
                   AS n_a,
               CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS HUGEINT)
                   AS n_b,
               CAST(SUM(CASE WHEN arm = 'A' THEN converted ELSE 0 END)
                    AS HUGEINT) AS x_a,
               CAST(SUM(CASE WHEN arm = 'B' THEN converted ELSE 0 END)
                    AS HUGEINT) AS x_b
        FROM armed
    )
    SELECT CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           CAST(x_a AS BIGINT) AS conv_a,
           CAST(x_b AS BIGINT) AS conv_b,
           CAST((1000 * x_a) // n_a AS BIGINT) AS cr_a_pm,
           CAST((1000 * x_b) // n_b AS BIGINT) AS cr_b_pm,
           CAST((1000 * (x_a * n_b - x_b * n_a) * (x_a * n_b - x_b * n_a)
                 * (n_a + n_b))
                // (n_a * n_b * (x_a + x_b)
                    * ((n_a + n_b) - (x_a + x_b))) AS BIGINT) AS z2_milli,
           CAST(CASE WHEN {AB_Z2_DEN}
                          * (x_a * n_b - x_b * n_a)
                          * (x_a * n_b - x_b * n_a) * (n_a + n_b)
                          > {AB_Z2_NUM} * n_a * n_b * (x_a + x_b)
                            * ((n_a + n_b) - (x_a + x_b))
                     THEN 1 ELSE 0 END AS BIGINT) AS significant
    FROM agg
    """)
def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout with a FLOAT-FREE significance call: users
    split 50/50 by the deterministic portable hash (the q_srm_check
    allocation contract), success = a heavy buyer (>= 14 purchases,
    above the median — raw any-purchase conversion is 100% here), and the
    pooled two-proportion z-test decided entirely in integers — z² =
    (x_a·n_b − x_b·n_a)²·n / (n_a·n_b·x·(n−x)) compared against the
    critical 3.841459 by cross-multiplication with the exact rational
    3841459/10⁶. No sqrt, no division, no float rounding: both engines
    reach the identical verdict bit for bit. z2_milli reports effect
    strength (1000·z², floor).

    Scale: one user-keyed conditional-MAX pass then a 4-counter scalar
    aggregate; the test statistic is computed on one row. The 128-bit
    lanes hold to n ≈ 10⁸ users per arm; beyond that, test on permille
    shares — at that scale any measurable gap is significant anyway.

    Reference tie-in: train/eval experimentation is the reference's
    operating loop (trainer.py:294-316); this is the online-experiment
    counterpart expressed as a query."""
    ev = table(spark, sf_dir, "events")
    u = (ev.groupBy("user_id")
         .agg(F.expr(f"CASE WHEN COUNT(CASE WHEN event_type = 'purchase'"
                     f" THEN 1 END) >= {AB_SUCCESS_MIN}"
                     f" THEN 1 ELSE 0 END").alias("converted")))
    arm = F.when(
        F.pmod(h64(F.concat(F.lit("ab|"), F.col("user_id").cast("string"))),
               F.lit(2)) == 0, "A").otherwise("B")
    D = "DECIMAL(38,0)"
    agg = (u.select(arm.alias("arm"), "converted")
           .agg(F.expr(f"CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END)"
                       f" AS {D})").alias("n_a"),
                F.expr(f"CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END)"
                       f" AS {D})").alias("n_b"),
                F.expr(f"CAST(SUM(CASE WHEN arm = 'A' THEN converted"
                       f" ELSE 0 END) AS {D})").alias("x_a"),
                F.expr(f"CAST(SUM(CASE WHEN arm = 'B' THEN converted"
                       f" ELSE 0 END) AS {D})").alias("x_b")))
    return agg.select(
        F.expr("CAST(n_a AS BIGINT)").alias("n_a"),
        F.expr("CAST(n_b AS BIGINT)").alias("n_b"),
        F.expr("CAST(x_a AS BIGINT)").alias("conv_a"),
        F.expr("CAST(x_b AS BIGINT)").alias("conv_b"),
        F.expr("CAST((1000 * x_a) div n_a AS BIGINT)").alias("cr_a_pm"),
        F.expr("CAST((1000 * x_b) div n_b AS BIGINT)").alias("cr_b_pm"),
        F.expr("CAST((1000 * (x_a * n_b - x_b * n_a)"
               " * (x_a * n_b - x_b * n_a) * (n_a + n_b))"
               " div (n_a * n_b * (x_a + x_b)"
               " * ((n_a + n_b) - (x_a + x_b))) AS BIGINT)")
        .alias("z2_milli"),
        F.expr(f"CAST(CASE WHEN {AB_Z2_DEN}"
               f" * (x_a * n_b - x_b * n_a)"
               f" * (x_a * n_b - x_b * n_a) * (n_a + n_b)"
               f" > {AB_Z2_NUM} * n_a * n_b * (x_a + x_b)"
               f" * ((n_a + n_b) - (x_a + x_b))"
               f" THEN 1 ELSE 0 END AS BIGINT)").alias("significant"))


# ---------------------------------------------------------------------------
# Size-weighted exact-k sampling (sequential Poisson / pps)
# ---------------------------------------------------------------------------

SPS_K = 120            # sample size
SPS_SCALE = 1_000_000  # priority quantization (u and the ratio scale)


@register(
    "q_sample_weighted",
    oracle=f"""
    WITH pri AS (
        SELECT doc_id, source, n_chars,
               (({sql_h64("'sps|' || CAST(doc_id AS VARCHAR)")}
                 % {SPS_SCALE}) * {SPS_SCALE}) // n_chars AS priority
        FROM documents
    ), picked AS (
        SELECT * FROM pri ORDER BY priority, doc_id LIMIT {SPS_K}
    ), corpus AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS w_docs
        FROM documents GROUP BY source
    ), tot AS (
        SELECT CAST(SUM(n_docs) AS BIGINT) AS tot_docs,
               CAST(SUM(w_docs) AS BIGINT) AS tot_w
        FROM corpus
    )
    SELECT c.source,
           CAST(COALESCE(COUNT(p.doc_id), 0) AS BIGINT) AS n_sampled,
           (1000 * CAST(COALESCE(COUNT(p.doc_id), 0) AS BIGINT))
               // {SPS_K} AS sample_share_pm,
           (1000 * c.n_docs) // t.tot_docs AS doc_share_pm,
           (1000 * c.w_docs) // t.tot_w AS weight_share_pm
    FROM corpus c
    CROSS JOIN tot t
    LEFT JOIN picked p ON p.source = c.source
    GROUP BY c.source, c.n_docs, c.w_docs, t.tot_docs, t.tot_w
    ORDER BY c.source
    """)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-weighted exact-k sampling by sequential Poisson sampling
    (Ohlsson 1998): each document draws a uniform u from a salted hash,
    its priority is u/weight (weight = n_chars, quantized to integer
    arithmetic so both engines rank identically), and the k smallest
    priorities form an approximately probability-proportional-to-size
    sample WITHOUT replacement — the principled way to draw a fixed-size
    audit/eval slice where long documents (more training tokens) get
    proportionally more representation than a uniform row sample gives.
    The report compares each source's share of the sample against its
    document share and token-weight share: pps tracks weight_share_pm,
    uniform sampling would track doc_share_pm.

    Scale: priorities are a stateless map folded into the scan; exact-k
    global selection is TakeOrderedAndProject (per-partition partial
    top-k, k rows to the driver stage — no full sort, no wide shuffle);
    the audit joins a |sources|-row aggregate with a broadcast total."""
    docs = table(spark, sf_dir, "documents")
    pri = docs.select(
        "doc_id", "source", "n_chars",
        (((h64(F.concat(F.lit("sps|"), F.col("doc_id").cast("string")))
           % SPS_SCALE) * SPS_SCALE)
         .cast("long").alias("u_scaled"))) \
        .withColumn("priority", F.expr("u_scaled div n_chars")) \
        .drop("u_scaled")
    picked = pri.orderBy("priority", "doc_id").limit(SPS_K)
    corpus = (docs.groupBy("source")
              .agg(F.count("*").cast("long").alias("n_docs"),
                   F.sum("n_chars").cast("long").alias("w_docs")))
    tot = corpus.agg(F.sum("n_docs").cast("long").alias("tot_docs"),
                     F.sum("w_docs").cast("long").alias("tot_w"))
    return (
        corpus.crossJoin(F.broadcast(tot))
        .join(F.broadcast(picked.select("doc_id", "source")), "source",
              "left")
        .groupBy("source", "n_docs", "w_docs", "tot_docs", "tot_w")
        .agg(F.count("doc_id").cast("long").alias("n_sampled"))
        .select(
            "source",
            "n_sampled",
            F.expr(f"(1000 * n_sampled) div {SPS_K}")
            .alias("sample_share_pm"),
            F.expr("(1000 * n_docs) div tot_docs").alias("doc_share_pm"),
            F.expr("(1000 * w_docs) div tot_w").alias("weight_share_pm"))
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Dataset card: the one-page statistics block a corpus release ships
# ---------------------------------------------------------------------------


@register(
    "q_dataset_card",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, source, n_chars,
               len(list_filter(string_split(text, ' '),
                               t -> len(t) > 0)) AS n_tokens,
               md5(text) AS digest
        FROM documents
    ), base AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
               CAST(COUNT(DISTINCT digest) AS BIGINT) AS n_unique,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_en
        FROM toks
    )
    SELECT m.metric, m.value FROM base, (
        SELECT * FROM (VALUES (1, 'n_docs'), (2, 'n_tokens'),
                              (3, 'n_chars'), (4, 'n_langs'),
                              (5, 'n_sources'),
                              (6, 'exact_dup_permille'),
                              (7, 'english_share_permille'),
                              (8, 'mean_tokens_per_doc')) v(ord, name)
    ) names(ord, name),
    LATERAL (
        SELECT names.name AS metric,
               CASE names.name
                    WHEN 'n_docs' THEN n_docs
                    WHEN 'n_tokens' THEN n_tokens
                    WHEN 'n_chars' THEN n_chars
                    WHEN 'n_langs' THEN n_langs
                    WHEN 'n_sources' THEN n_sources
                    WHEN 'exact_dup_permille'
                         THEN (1000 * (n_docs - n_unique)) // n_docs
                    WHEN 'english_share_permille'
                         THEN (1000 * n_en) // n_docs
                    WHEN 'mean_tokens_per_doc'
                         THEN n_tokens // n_docs
               END AS value
    ) m
    ORDER BY names.ord
    """)
def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset card statistics block — the one-page summary a corpus
    release ships (docs/tokens/chars, language and source breadth,
    exact-duplication rate, English share, mean length): one scan of
    the documents table collapsing to a single sufficient-statistics
    row, unpivoted to (metric, value) rows so the card renders as a
    table. The deeper metrics stay in their own queries (near-dup in
    the dedup tier, quality gates in q_corpus_prep_pipeline,
    contamination in q_contamination_check); this is the headline
    block that cites them.

    Scale: single pass + 1-row rollup; token counts reuse the
    whitespace contract of q_text_token_stats."""
    docs = table(spark, sf_dir, "documents")
    base = (docs.select(
        "lang", "source", "n_chars",
        F.expr("size(filter(split(text, ' '), t -> length(t) > 0))")
        .alias("n_tokens"),
        F.md5("text").alias("digest"))
        .agg(F.count("*").cast("long").alias("n_docs"),
             F.sum("n_tokens").cast("long").alias("n_tokens"),
             F.sum("n_chars").cast("long").alias("n_chars"),
             F.countDistinct("lang").cast("long").alias("n_langs"),
             F.countDistinct("source").cast("long").alias("n_sources"),
             F.countDistinct("digest").cast("long").alias("n_unique"),
             F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
             .cast("long").alias("n_en")))
    return base.selectExpr(
        """stack(8,
            'n_docs', n_docs,
            'n_tokens', n_tokens,
            'n_chars', n_chars,
            'n_langs', n_langs,
            'n_sources', n_sources,
            'exact_dup_permille', (1000 * (n_docs - n_unique)) div n_docs,
            'english_share_permille', (1000 * n_en) div n_docs,
            'mean_tokens_per_doc', n_tokens div n_docs
        ) AS (metric, value)""")


# ---------------------------------------------------------------------------
# DSIR: data selection via importance resampling
# ---------------------------------------------------------------------------

DSIR_B = 64       # hashed unigram feature buckets
DSIR_K = 100      # documents selected
DSIR_PS = 10 ** 9   # bucket-probability scale
DSIR_RS = 10 ** 6   # importance-ratio scale (ppm; 1e6 = "same as corpus")



# Materialize the DSIR per-(doc, bucket) COUNT frame (<= DSIR_B rows
# per document — the r13 contraction) so the md5 explode runs ONCE for
# both consumers (bucket census + scoring join) at EVERY scale, picking
# the medium by footer row count at plan time (the ivf_nlist / ccnet /
# winnow discipline):
#   * <= 100k docs: lazy localCheckpoint — in-memory, fastest, and the
#     pinned (unevictable) blocks are bounded (~6.4M narrow rows);
#   * above it: persist(DISK_ONLY) — serialized blocks go straight to
#     local disk, ZERO pinned heap, still compute-once. The r12 lane
#     above the bound was recompute-per-reference (the explode ran
#     twice: 13.4 s at the 100x mirror); pinning instead was measured
#     to OOM the 8 GB unified pool even for the 64x-contracted frame
#     (32M rows at 500k docs), so disk is the only compute-once medium
#     there. On a cluster the same lane is checkpoint() to the
#     cluster FS.
DSIR_CKPT_MAX_DOCS = 100_000


def _dsir_maybe_checkpoint(feats, sf_dir: str):
    from columnar_estimator_sample_spark.sources.tables import (
        parquet_num_rows,
    )
    import os as _os
    n = parquet_num_rows(_os.path.join(sf_dir, "documents.parquet"))
    if n <= DSIR_CKPT_MAX_DOCS:
        return feats.localCheckpoint(eager=False)
    from pyspark import StorageLevel
    return feats.persist(StorageLevel.DISK_ONLY)


def _dsir_report(spark: SparkSession, sf_dir: str,
                 feats: DataFrame) -> DataFrame:
    """Shared DSIR machinery over a hashed-feature frame ``feats``
    (doc_id, lang, b): contract to per-(doc, bucket) occurrence counts
    FIRST — one groupBy collapses the per-token rows to <= {DSIR_B} per
    document, and that compact frame (not the token explode) is what
    both consumers read and what gets checkpointed. The bucket census
    is SUM(c) by bucket; the per-doc importance score is
    SUM(c*r) DIV SUM(c), integer-identical to the oracle's
    SUM(r) DIV COUNT(*) over token occurrences. Net effect at scale:
    the md5 explode runs once instead of once per consumer, and the
    checkpoint pins ~64 rows per doc instead of ~2 per token (the r12
    sf10 term: 13.4 s, dominated by the doubled explode)."""
    sel = _dsir_selected(spark, sf_dir, feats)
    return (sel.groupBy("lang")
            .agg(F.count("*").cast("long").alias("n_selected"),
                 F.expr("SUM(score_ppm) DIV COUNT(*)").cast("long")
                 .alias("mean_score_ppm"))
            .orderBy("lang"))


def _dsir_selected(spark: SparkSession, sf_dir: str,
                   feats: DataFrame) -> DataFrame:
    """The top-``DSIR_K`` selected documents (doc_id, lang, score_ppm)
    under the shared DSIR machinery — the selection frame
    :func:`_dsir_report` censuses and :func:`dsir_export_table` lands."""
    db = (feats.groupBy("doc_id", "lang", "b")
          .agg(F.count("*").cast("long").alias("c")))
    db = _dsir_maybe_checkpoint(db, sf_dir)
    bc = db.groupBy("b").agg(
        F.sum("c").cast("long").alias("cs"),
        F.sum(F.when(F.col("lang") == "en", F.col("c")).otherwise(0))
        .cast("long").alias("ct"))
    tot = bc.agg(F.sum("cs").cast("long").alias("ns"),
                 F.sum("ct").cast("long").alias("nt"))
    ratio = (bc.crossJoin(F.broadcast(tot))
             .select("b", F.expr(
                 f"((ct + 1) * {DSIR_PS} DIV (nt + {DSIR_B}))"
                 f" * {DSIR_RS}"
                 f" DIV GREATEST((cs + 1) * {DSIR_PS}"
                 f" DIV (ns + {DSIR_B}), 1)").alias("r")))
    scored = (db.join(F.broadcast(ratio), "b")
              .groupBy("doc_id")
              .agg(F.expr("SUM(c * r) DIV SUM(c)").cast("long")
                   .alias("score_ppm")))
    docs = table(spark, sf_dir, "documents")
    return (scored.join(docs.select("doc_id", "lang"), "doc_id")
            .orderBy(F.desc("score_ppm"), "doc_id")
            .limit(DSIR_K))


@register(
    "q_dsir_selection",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang,
               {sql_h64("t.w")} % {DSIR_B} AS b
        FROM documents, unnest(string_split(text, ' ')) AS t(w)
    ), bc AS (
        SELECT b,
               CAST(COUNT(*) AS BIGINT) AS cs,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                    AS BIGINT) AS ct
        FROM tok GROUP BY b
    ), tot AS (
        SELECT CAST(SUM(cs) AS BIGINT) AS ns,
               CAST(SUM(ct) AS BIGINT) AS nt
        FROM bc
    ), ratio AS (
        SELECT b,
               ((ct + 1) * {DSIR_PS} // (nt + {DSIR_B})) * {DSIR_RS}
               // GREATEST((cs + 1) * {DSIR_PS} // (ns + {DSIR_B}), 1)
                   AS r
        FROM bc, tot
    ), scored AS (
        SELECT tok.doc_id,
               CAST(SUM(r) // COUNT(*) AS BIGINT) AS score_ppm
        FROM tok JOIN ratio ON ratio.b = tok.b
        GROUP BY tok.doc_id
    ), sel AS (
        SELECT s.doc_id, s.score_ppm, d.lang
        FROM scored s JOIN documents d ON d.doc_id = s.doc_id
        ORDER BY s.score_ppm DESC, s.doc_id
        LIMIT {DSIR_K}
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_selected,
           CAST(SUM(score_ppm) // COUNT(*) AS BIGINT) AS mean_score_ppm
    FROM sel
    GROUP BY lang
    ORDER BY lang
    """,
)
def q_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Xie et al. 2023, arXiv:2302.03169): data selection via
    importance resampling restated relationally — hashed unigram feature
    buckets ({DSIR_B} via the portable md5 hash), add-one-smoothed bucket
    distributions for the TARGET domain (lang='en' stands in for the
    held-out domain sample) and the RAW corpus, per-document importance
    score = mean target/raw bucket ratio over the document's token
    occurrences, and a top-{DSIR_K} selection whose per-language census is
    the report (does importance weighting pull the sample toward the
    target domain?). All-integer two-step floor-divided probabilities, so
    both engines rank identically — no logs, no cross-engine libm risk.

    Scale: the bucket table is {DSIR_B} rows (broadcast); scoring is one
    token explode joined against it with a map-side-partial per-doc
    aggregate; selection is TakeOrderedAndProject (per-partition partial
    top-k — no global sort); the census aggregates {DSIR_K} rows. At
    100 TB the explode dominates and is embarrassingly parallel; the
    n-gram generalization only widens the explode, never the joins.
    """
    # r15: the r14 fanout was REVERTED here — with the 1m floor pin in
    # place, an interleaved on/off A/B measured the extra exchange net
    # NEGATIVE for the unigram kernel (ON 1.014 s vs OFF 0.942 s min;
    # the r14 keep was "neutral min, better median" and the r14 driver
    # read 0.87x). q_dsir_bigram's heavier kernel keeps its fanout
    # (same A/B: +0.69 s without it).
    docs = (table(spark, sf_dir, "documents")
            .select("doc_id", "lang", "text"))
    feats = (docs.select("doc_id", "lang",
                         F.explode(F.split("text", " ")).alias("w"))
             .select("doc_id", "lang",
                     (h64(F.col("w")) % DSIR_B).alias("b")))
    return _dsir_report(spark, sf_dir, feats)


# q_dsir_bigram's full oracle chain, named so the export face can
# derive its landed-mix census from the identical selection CTEs.
_DSIR_BIGRAM_ORACLE = f"""
    WITH wsrc AS (
        SELECT doc_id, lang, string_split(text, ' ') AS ws
        FROM documents
    ), tok AS (
        SELECT doc_id, lang, {sql_h64("t.w")} % {DSIR_B} AS b
        FROM wsrc, unnest(ws) AS t(w)
        UNION ALL
        SELECT doc_id, lang,
               {sql_h64("ws[i + 1] || ' ' || ws[i + 2]")} % {DSIR_B} AS b
        FROM wsrc, unnest(range(0, len(ws) - 1)) AS r(i)
    ), bc AS (
        SELECT b,
               CAST(COUNT(*) AS BIGINT) AS cs,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                    AS BIGINT) AS ct
        FROM tok GROUP BY b
    ), tot AS (
        SELECT CAST(SUM(cs) AS BIGINT) AS ns,
               CAST(SUM(ct) AS BIGINT) AS nt
        FROM bc
    ), ratio AS (
        SELECT b,
               ((ct + 1) * {DSIR_PS} // (nt + {DSIR_B})) * {DSIR_RS}
               // GREATEST((cs + 1) * {DSIR_PS} // (ns + {DSIR_B}), 1)
                   AS r
        FROM bc, tot
    ), scored AS (
        SELECT tok.doc_id,
               CAST(SUM(r) // COUNT(*) AS BIGINT) AS score_ppm
        FROM tok JOIN ratio ON ratio.b = tok.b
        GROUP BY tok.doc_id
    ), sel AS (
        SELECT s.doc_id, s.score_ppm, d.lang
        FROM scored s JOIN documents d ON d.doc_id = s.doc_id
        ORDER BY s.score_ppm DESC, s.doc_id
        LIMIT {DSIR_K}
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_selected,
           CAST(SUM(score_ppm) // COUNT(*) AS BIGINT) AS mean_score_ppm
    FROM sel
    GROUP BY lang
    ORDER BY lang
    """


@register("q_dsir_bigram", oracle=_DSIR_BIGRAM_ORACLE)
def q_dsir_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR with the paper's hashed N-GRAM features (Xie et al. 2023,
    arXiv:2302.03169 §3: unigrams AND bigrams hashed into a shared
    bucket table): every document contributes its unigram occurrences
    plus its adjacent-pair bigrams, all md5-hashed into the same
    {DSIR_B} buckets, then the identical two-step all-integer
    importance machinery as q_dsir_selection — add-one-smoothed
    target/raw bucket ratios, per-doc mean score, top-{DSIR_K}
    selection, per-language census. Bigrams capture word-order evidence
    the unigram variant cannot (the paper's reported config).

    Scale: the bigram features come from an in-row array ``transform``
    over the already-split token array — the explode just widens
    (2n - 1 features per n-token doc), no joins are added, and the
    bucket/ratio tables stay {DSIR_B} broadcast rows. Selection remains
    TakeOrderedAndProject. At 100 TB this is the same embarrassingly
    parallel scan shape as the unigram query, ~2x the exploded rows."""
    # r14: fanout — the per-token md5 kernel otherwise runs inside the
    # scan's single local split (measured 1.2 s one-task stage)
    from columnar_estimator_sample_spark.sources.tables import fanout
    docs = fanout(table(spark, sf_dir, "documents")
                  .select("doc_id", "lang", "text"))
    feats = (docs
             .select("doc_id", "lang", F.split("text", " ").alias("ws"))
             .select("doc_id", "lang", F.explode(F.expr("""
                 concat(ws,
                        CASE WHEN size(ws) >= 2
                             THEN transform(sequence(0, size(ws) - 2),
                                            i -> concat(ws[i], ' ',
                                                        ws[i + 1]))
                             ELSE array() END)
             """)).alias("w"))
             .select("doc_id", "lang",
                     (h64(F.col("w")) % DSIR_B).alias("b")))
    return _dsir_report(spark, sf_dir, feats)


def _dsir_bigram_feats(docs: DataFrame) -> DataFrame:
    """q_dsir_bigram's hashed unigram+bigram feature frame, factored so
    the export face selects with the identical features."""
    return (docs
            .select("doc_id", "lang", F.split("text", " ").alias("ws"))
            .select("doc_id", "lang", F.explode(F.expr("""
                concat(ws,
                       CASE WHEN size(ws) >= 2
                            THEN transform(sequence(0, size(ws) - 2),
                                           i -> concat(ws[i], ' ',
                                                       ws[i + 1]))
                            ELSE array() END)
            """)).alias("w"))
            .select("doc_id", "lang",
                    (h64(F.col("w")) % DSIR_B).alias("b")))


DSIR_EXPORT_BUCKETS = 16


def dsir_export_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LANDED DSIR training mix (write-once per session): the
    top-``DSIR_K`` documents under the hashed unigram+bigram importance
    score, joined back to their text, written as a lang-partitioned
    doc_id-bucketed+sorted parquet table — the same landing spec as the
    dedup pipeline's corpus export, so any equally-bucketed downstream
    side (pack assignments, labels) joins exchange-free. At 100 TB the
    selection is TakeOrderedAndProject (per-partition partial top-k of
    a corpus-sized scored frame — K rows ever cross the final exchange)
    and the landing write is K-row, not corpus-sized. The landed table
    name is memoized per (session, sf_dir) — the q_corpus_export
    write-once discipline for the SELECTED mix."""
    from columnar_estimator_sample_spark.operators.partitioning import (
        bucketed_ctas,
    )
    from columnar_estimator_sample_spark.sources.tables import table_tag

    def build() -> str:
        docs = table(spark, sf_dir, "documents")
        sel = _dsir_selected(spark, sf_dir, _dsir_bigram_feats(docs))
        name = f"dsir_export_{table_tag(spark, sf_dir)}"
        bucketed_ctas(
            spark, name,
            sel.join(docs.select("doc_id", "n_chars"), "doc_id")
            .select("doc_id", "lang", "score_ppm", "n_chars"),
            "doc_id", n_buckets=DSIR_EXPORT_BUCKETS, partition_by="lang")
        return name
    return spark.table(memo(spark, ("dsir_export", sf_dir), build))


def _dsir_export_oracle() -> str:
    # the q_dsir_bigram oracle chain up to sel, then the per-language
    # census of the LANDED mix (chars come from the documents join)
    return _DSIR_BIGRAM_ORACLE.replace(
        """
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_selected,
           CAST(SUM(score_ppm) // COUNT(*) AS BIGINT) AS mean_score_ppm
    FROM sel
    GROUP BY lang
    ORDER BY lang
    """,
        """
    SELECT sel.lang,
           CAST(COUNT(*) AS BIGINT) AS n_selected,
           CAST(SUM(sel.score_ppm) // COUNT(*) AS BIGINT)
               AS mean_score_ppm,
           CAST(SUM(d.n_chars) AS BIGINT) AS n_chars
    FROM sel JOIN documents d ON d.doc_id = sel.doc_id
    GROUP BY sel.lang
    ORDER BY sel.lang
    """, 1)


@register("q_dsir_export", oracle=_dsir_export_oracle())
def q_dsir_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR's MATERIALIZATION step — the apply face every selection
    census only priced (the q_corpus_export / q_dedup_apply pattern):
    the top-``DSIR_K`` importance-resampled documents LAND as a real
    lang-partitioned doc_id-bucketed parquet table
    (:func:`dsir_export_table`), and the registered census reads the
    LANDED files back — per language: docs selected, mean importance
    score, total characters — so the driver's hash gate certifies the
    bytes on disk, not an in-plan projection.

    Scale: selection is the shared contracted-frame chain (one md5
    explode, 64-row broadcast ratio table, partial top-k); the landing
    write and this census touch K rows. Reference anchor: the
    train/eval split materialization (trainer.py:158-168) — the
    selected training subset becomes a first-class table."""
    landed = dsir_export_table(spark, sf_dir)
    return (landed.groupBy("lang")
            .agg(F.count("*").cast("long").alias("n_selected"),
                 F.expr("SUM(score_ppm) DIV COUNT(*)").cast("long")
                 .alias("mean_score_ppm"),
                 F.sum("n_chars").cast("long").alias("n_chars"))
            .orderBy("lang"))


# ---------------------------------------------------------------------------
# Quality filter cascade with first-failing-gate attribution
# ---------------------------------------------------------------------------

# Gate thresholds (integer, exact in both engines). Order IS the cascade:
# cheap structural gates first, the model-based gate last — the standard
# Gopher/FineWeb filter-stack shape, where each document is attributed to
# the FIRST gate that rejects it.
CASCADE_MIN_TOKENS = 20     # too_short below this
CASCADE_MAX_TOKENS = 90     # too_long above this
CASCADE_MIN_TTR_PM = 420    # repetitive: distinct/total tokens permille
CASCADE_MIN_LM_PM = 32      # low_lm: corpus-LM mean transition permille

_CASCADE_VERDICT = f"""CASE
        WHEN n_toks < {CASCADE_MIN_TOKENS} THEN 'too_short'
        WHEN n_toks > {CASCADE_MAX_TOKENS} THEN 'too_long'
        WHEN ttr_pm < {CASCADE_MIN_TTR_PM} THEN 'repetitive'
        WHEN lm_pm < {CASCADE_MIN_LM_PM} THEN 'low_lm'
        ELSE 'keep' END"""


@register(
    "q_quality_cascade",
    oracle=f"""
    WITH {{lm}},
    sig AS (
        SELECT d.doc_id, d.lang,
               len(string_split(d.text, ' ')) AS n_toks,
               (1000 * len(list_distinct(string_split(d.text, ' '))))
                   // len(string_split(d.text, ' ')) AS ttr_pm,
               coalesce(s.lm_score_permille, -1) AS lm_pm
        FROM documents d
        LEFT JOIN scores s ON s.doc_id = d.doc_id
    )
    SELECT lang, {_CASCADE_VERDICT} AS verdict,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens
    FROM sig
    GROUP BY lang, verdict
    ORDER BY lang, verdict
    """.format(lm=_DOC_LM_SQL),
)
def q_quality_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality filter cascade with first-failing-gate attribution (the
    Gopher rules / FineWeb filter-stack shape, Rae et al. 2021 §A1.1,
    Penedo et al. 2024): structural gates first (length band, type-token
    repetition), the model-based gate last (corpus-LM score — the CCNet
    perplexity signal), each document attributed to the FIRST gate that
    rejects it. The (lang, verdict) census with token mass is the
    filter-funnel dashboard a pipeline tunes thresholds against: it shows
    not just how much survives but WHICH gate eats each language's mass.

    Scale: structural signals fold into the document scan; the LM score
    joins from the shared per-session `doc_lm_scores` frame (the written
    quality-scores table at 100 TB); one hash aggregate with map-side
    partials over ~|langs| x 5 output rows."""
    from columnar_estimator_sample_spark.operators.textstats import (
        doc_lm_scores,
    )
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    sig = (docs.select(
               "doc_id", "lang",
               F.size(toks).alias("n_toks"),
               F.expr("(1000 * size(array_distinct(split(text, ' '))))"
                      " DIV size(split(text, ' '))").alias("ttr_pm"))
           .join(doc_lm_scores(spark, sf_dir)
                 .select("doc_id", "lm_score_permille"),
                 "doc_id", "left")
           .withColumn("lm_pm",
                       F.coalesce("lm_score_permille", F.lit(-1))))
    return (sig.groupBy("lang", F.expr(_CASCADE_VERDICT).alias("verdict"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("n_toks").cast("long").alias("n_tokens"))
            .orderBy("lang", "verdict"))


@register(
    "q_pretrain_mix_pipeline",
    oracle=f"""
    WITH {_DOC_LM_SQL},
    sig AS (
        SELECT d.doc_id, d.source, d.text,
               len(string_split(d.text, ' ')) AS n_toks,
               (1000 * len(list_distinct(string_split(d.text, ' '))))
                   // len(string_split(d.text, ' ')) AS ttr_pm,
               coalesce(s.lm_score_permille, -1) AS lm_pm
        FROM documents d
        LEFT JOIN scores s ON s.doc_id = d.doc_id
    ), kept0 AS (
        SELECT doc_id, source, text FROM sig
        WHERE ({_CASCADE_VERDICT}) = 'keep'
    ), reps AS (
        SELECT MIN(doc_id) AS doc_id
        FROM kept0 GROUP BY md5(text)
    ), surv AS (
        SELECT k.doc_id, k.source,
               CAST(len(list_filter(string_split(k.text, ' '),
                                    x -> len(x) > 0)) AS BIGINT)
                   AS n_tok_ne
        FROM kept0 k JOIN reps r ON r.doc_id = k.doc_id
    ), n AS (
        SELECT source, CAST(SUM(n_tok_ne) AS BIGINT) AS n_tokens
        FROM surv GROUP BY source
    ), sq AS (
        SELECT source, n_tokens,
               CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS isq
        FROM n
    ), tot AS (
        SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_n,
               CAST(SUM(isq) AS BIGINT) AS tot_sq
        FROM sq
    ), boost AS (
        SELECT s.source,
               ((1000000 * s.isq) // t.tot_sq) * 1000000
                   // GREATEST((1000000 * s.n_tokens) // t.tot_n, 1)
                   AS boost_ppm
        FROM sq s CROSS JOIN tot t
    ), adm AS (
        SELECT source,
               (1000000 * boost_ppm)
                   // (SELECT MAX(boost_ppm) FROM boost) AS adm_ppm
        FROM boost
    )
    SELECT sv.source, a.adm_ppm,
           CAST(COUNT(*) AS BIGINT) AS n_survivors,
           CAST(SUM(CASE WHEN {sql_h64("CAST(sv.doc_id AS VARCHAR)")}
                              % 1000000 < a.adm_ppm
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
           CAST(SUM(CASE WHEN {sql_h64("CAST(sv.doc_id AS VARCHAR)")}
                              % 1000000 < a.adm_ppm
                         THEN sv.n_tok_ne ELSE 0 END) AS BIGINT)
               AS n_tokens_admitted
    FROM surv sv JOIN adm a ON a.source = sv.source
    GROUP BY sv.source, a.adm_ppm
    ORDER BY sv.source
    """)
def q_pretrain_mix_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The modern pretraining-data funnel END-TO-END, one certified
    plan: quality cascade (keep only docs passing every structural gate
    and the corpus-LM gate) → exact dedup (md5 min-id survivor among
    the kept) → temperature mixing (alpha=0.5 boosts recomputed over
    the SURVIVING corpus, deterministic hash-mod admission) → per-source
    admission census. Every stage is the already-certified operator
    (q_quality_cascade's verdict chain, q_dedup_exact's survivor rule,
    q_mixture_apply's integer rate chain) composed in the order a
    production pipeline runs them — the composition itself is what this
    query certifies, the way q_corpus_prep_pipeline certified the
    r7-era funnel.

    Scale: one documents scan feeds the verdict chain (LM scores join
    from the shared written-scores frame); dedup shuffles 16-byte
    digests; the temperature chain collapses to |sources| broadcast
    rows; admission is a scan-local predicate. No stage adds a
    corpus-sized shuffle beyond the digest groupBy the exact-dedup
    stage always costs."""
    from columnar_estimator_sample_spark.operators.textstats import (
        doc_lm_scores,
    )
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    sig = (docs.select(
               "doc_id", "source", "text",
               F.size(toks).alias("n_toks"),
               F.expr("(1000 * size(array_distinct(split(text, ' '))))"
                      " DIV size(split(text, ' '))").alias("ttr_pm"))
           .join(doc_lm_scores(spark, sf_dir)
                 .select("doc_id", "lm_score_permille"),
                 "doc_id", "left")
           .withColumn("lm_pm",
                       F.coalesce("lm_score_permille", F.lit(-1))))
    kept0 = (sig.filter(F.expr(_CASCADE_VERDICT) == "keep")
             .select("doc_id", "source", "text"))
    reps = (kept0.groupBy(F.md5("text").alias("fp"))
            .agg(F.min("doc_id").alias("doc_id")))
    surv = (kept0.join(reps.select("doc_id"), "doc_id")
            .select("doc_id", "source",
                    F.size(F.filter(F.split("text", " "),
                                    lambda x: F.length(x) > 0))
                    .cast("long").alias("n_tok_ne")))
    n = surv.groupBy("source").agg(
        F.sum("n_tok_ne").cast("long").alias("n_tokens"))
    sq = n.withColumn(
        "isq",
        F.expr("CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT)"))
    tot = sq.agg(F.sum("n_tokens").cast("long").alias("tot_n"),
                 F.sum("isq").cast("long").alias("tot_sq"))
    boost = (sq.crossJoin(F.broadcast(tot))
             .select("source",
                     F.expr("((1000000 * isq) DIV tot_sq) * 1000000"
                            " DIV GREATEST((1000000 * n_tokens)"
                            " DIV tot_n, 1)").alias("boost_ppm")))
    maxb = boost.agg(F.max("boost_ppm").alias("max_b"))
    adm = (boost.crossJoin(F.broadcast(maxb))
           .select("source",
                   F.expr("(1000000 * boost_ppm) DIV max_b")
                   .alias("adm_ppm")))
    hit = (h64(F.col("doc_id").cast("string")) % 1_000_000
           < F.col("adm_ppm")).cast("int")
    return (surv.join(F.broadcast(adm), "source")
            .groupBy("source", "adm_ppm")
            .agg(F.count("*").cast("long").alias("n_survivors"),
                 F.sum(hit).cast("long").alias("n_admitted"),
                 F.sum(F.col("n_tok_ne") * hit).cast("long")
                 .alias("n_tokens_admitted"))
            .orderBy("source"))


# ---------------------------------------------------------------------------
# Quality ensemble: reciprocal-rank-fusion blend of quality signals
# ---------------------------------------------------------------------------

RRF_K0 = 60           # the standard RRF damping constant
RRF_MICRO = 10 ** 9   # 1/(K0+rank) in exact integer nano-units
RRF_TOP = 15


def rrf_rank(sig: DataFrame, col: str) -> DataFrame:
    """Global dense total-order rank of ``col`` DESC (ties by doc_id)
    WITHOUT a global sort: rank = (# docs with a strictly higher value,
    from a value-histogram prefix — a frame bounded by the signal's
    value cardinality, not the corpus) + (ROW_NUMBER within the value's
    partition — embarrassingly parallel). The budget_pack two-phase
    shape applied to ranking."""
    from pyspark.sql.window import Window
    hist = sig.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
    wv = Window.orderBy(F.desc(col))  # histogram frame: |values| rows
    prefix = hist.select(
        col, (F.sum("c").over(wv) - F.col("c")).alias("n_higher"))
    ww = Window.partitionBy(col).orderBy("doc_id")
    return (sig.join(F.broadcast(prefix), col)
            .select("doc_id",
                    (F.col("n_higher") + F.row_number().over(ww))
                    .cast("long").alias(f"rank_{col}")))


@register(
    "q_quality_ensemble",
    oracle=f"""
    WITH {_DOC_LM_SQL},
    sig AS MATERIALIZED (
        SELECT d.doc_id, d.lang,
               coalesce(s.lm_score_permille, -1) AS lm_pm,
               (1000 * len(list_distinct(string_split(d.text, ' '))))
                   // len(string_split(d.text, ' ')) AS ttr_pm,
               len(string_split(d.text, ' ')) AS n_toks
        FROM documents d
        LEFT JOIN scores s ON s.doc_id = d.doc_id
    ), ranked AS (
        SELECT doc_id, lang,
               row_number() OVER (ORDER BY lm_pm DESC, doc_id)
                   AS rank_lm_pm,
               row_number() OVER (ORDER BY ttr_pm DESC, doc_id)
                   AS rank_ttr_pm,
               row_number() OVER (ORDER BY n_toks DESC, doc_id)
                   AS rank_n_toks
        FROM sig
    )
    SELECT doc_id, lang,
           CAST(rank_lm_pm AS BIGINT) AS rank_lm_pm,
           CAST(rank_ttr_pm AS BIGINT) AS rank_ttr_pm,
           CAST(rank_n_toks AS BIGINT) AS rank_n_toks,
           CAST({RRF_MICRO} // ({RRF_K0} + rank_lm_pm)
                + {RRF_MICRO} // ({RRF_K0} + rank_ttr_pm)
                + {RRF_MICRO} // ({RRF_K0} + rank_n_toks) AS BIGINT)
               AS rrf_nano
    FROM ranked
    ORDER BY rrf_nano DESC, doc_id
    LIMIT {RRF_TOP}
    """,
)
def q_quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-signal ensemble by reciprocal-rank fusion (Cormack et al.
    SIGIR'09): documents ranked independently on each quality signal
    (corpus-LM score, type-token ratio, length) and blended as
    Σ 1/(60 + rank) — the rank-space combination that needs no signal
    calibration, here in exact integer nano-units. The top blend is the
    "best documents first" ordering a curriculum/selection stage
    consumes, robust to any one signal's scale or outliers.

    Scale: NO global sort anywhere — each signal's global rank
    decomposes into a value-histogram prefix (a frame bounded by value
    CARDINALITY: permille signals have <= ~1001 distinct values) plus a
    within-value ROW_NUMBER (embarrassingly parallel), the same
    two-phase shape as q_token_budget_pack; the final top-k is
    TakeOrderedAndProject. Test-pinned equal to the naive single-window
    ranking."""
    from columnar_estimator_sample_spark.operators.textstats import (
        doc_lm_scores,
    )
    docs = table(spark, sf_dir, "documents")
    sig = (docs.select(
               "doc_id", "lang",
               F.expr("(1000 * size(array_distinct(split(text, ' '))))"
                      " DIV size(split(text, ' '))").alias("ttr_pm"),
               F.size(F.split("text", " ")).alias("n_toks"))
           .join(doc_lm_scores(spark, sf_dir)
                 .select("doc_id", "lm_score_permille"), "doc_id", "left")
           .withColumn("lm_pm",
                       F.coalesce("lm_score_permille", F.lit(-1)))
           .select("doc_id", "lang", "lm_pm", "ttr_pm", "n_toks"))
    out = sig.select("doc_id", "lang")
    for col in ["lm_pm", "ttr_pm", "n_toks"]:
        out = out.join(rrf_rank(sig.select("doc_id", col), col), "doc_id")
    rrf = sum(F.expr(f"{RRF_MICRO} DIV ({RRF_K0} + rank_{c})")
              for c in ["lm_pm", "ttr_pm", "n_toks"])
    return (out.select("doc_id", "lang", "rank_lm_pm", "rank_ttr_pm",
                       "rank_n_toks", rrf.cast("long").alias("rrf_nano"))
            .orderBy(F.desc("rrf_nano"), "doc_id")
            .limit(RRF_TOP))


# Curriculum phases: the corpus is split into this many difficulty
# stages (easy -> hard) for staged pretraining.
CURRICULUM_PHASES = 4


@register(
    "q_curriculum_schedule",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               n_chars
        FROM documents
    ),
    d AS (
        SELECT doc_id, source, n_tokens,
               (n_chars * 1000) // n_tokens AS diff_milli
        FROM t
    ),
    r AS (
        SELECT source, n_tokens, diff_milli,
               ROW_NUMBER() OVER (ORDER BY diff_milli, doc_id) AS rk,
               COUNT(*) OVER () AS n
        FROM d
    )
    SELECT CAST(((rk - 1) * {CURRICULUM_PHASES}) // n + 1 AS INTEGER)
               AS phase,
           source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(MIN(diff_milli) AS BIGINT) AS min_diff_milli,
           CAST(MAX(diff_milli) AS BIGINT) AS max_diff_milli
    FROM r
    GROUP BY 1, 2
    ORDER BY phase, source
    """,
)
def q_curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum schedule: rank every document by a difficulty proxy
    (mean token length in millichars — longer tokens ~ rarer/harder
    text), cut the global order into ``CURRICULUM_PHASES`` equal stages
    (easy -> hard), and emit the per-(phase, source) training schedule:
    document count, token budget, and the difficulty band each phase
    spans. The staged-epoch face of the reference's repeat/epoch knob
    (trainer.py:229-233 — epochs replay the SAME distribution; a
    curriculum replays a difficulty-ordered slice per stage).

    Scale: the only global ordering is :func:`two_phase_rank` over
    (diff_milli, doc_id) — range-partitioned local row_numbers plus a
    32-row offset frame, never a single-task window. The corpus size
    that converts ranks to phases rides a broadcast one-row aggregate,
    and the schedule itself collapses to |phases| x |sources| rows."""
    docs = table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        "n_chars",
    ).withColumn(
        "diff_milli",
        F.expr("(n_chars * 1000) DIV n_tokens"),
    )
    ranked = two_phase_rank(base, ["diff_milli", "doc_id"], "rk")
    n = base.agg(F.count(F.lit(1)).alias("__n"))
    return (
        ranked.crossJoin(F.broadcast(n))
        .withColumn(
            "phase",
            (F.expr(f"((rk - 1) * {CURRICULUM_PHASES}) DIV __n") + 1)
            .cast("int"))
        .groupBy("phase", "source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
             F.sum("n_tokens").alias("sum_tokens"),
             F.min("diff_milli").alias("min_diff_milli"),
             F.max("diff_milli").alias("max_diff_milli"))
        .orderBy("phase", "source")
    )
