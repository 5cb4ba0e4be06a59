"""Text-analysis operators: token stats, quality scoring, language signals,
document fingerprints.

All pure Catalyst expressions (split/regexp/aggregate) — no Python UDFs in
the hot path; at 100 TB these run entirely inside whole-stage codegen.
Regex patterns are restricted to constructs with identical semantics in
Java regex (Spark) and RE2-ish DuckDB regex (character classes only), and
DuckDB's regexp_replace gets the 'g' flag to match Java's replace-all.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from columnar_estimator_sample_spark.functions.exact import davg, sql_davg
from columnar_estimator_sample_spark.functions.hashing import sql_h64
from columnar_estimator_sample_spark.registry import register
from columnar_estimator_sample_spark.sources.tables import (
    memo,
    parquet_num_rows,
    table,
)

# A small English stopword list; used as the "English-likeness" signal in
# the language-ID heuristic and the quality score.
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"]


@register(
    "q_token_bigrams",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    bg AS (
        SELECT unnest(list_transform(
                   range(1, greatest(len(toks) - 1, 1) + 1),
                   i -> toks[CAST(i AS INT)] || ' '
                        || coalesce(toks[CAST(i AS INT) + 1], ''))) AS bigram
        FROM t
        WHERE len(toks) >= 2
    )
    SELECT bigram, COUNT(*) AS n
    FROM bg
    WHERE bigram NOT LIKE '% '
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 25
    """,
)
def q_token_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-token pair frequencies, top 25 — the counting step of
    BPE/WordPiece vocabulary induction (which pair to merge next) run
    corpus-wide.

    Scale: bigrams form in a narrow transform (no self-join on position),
    explode feeds a gram-keyed aggregate with map-side partials, top-k is
    TakeOrderedAndProject. The same plan at 100 TB shuffles only partial
    (bigram, count) pairs.
    """
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    bigrams = F.expr(
        "transform(sequence(1, greatest(size(toks) - 1, 1)),"
        " i -> concat(toks[i-1], ' ', coalesce(toks[i], '')))")
    return (
        docs.select(toks.alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .filter(~F.col("bigram").endswith(" "))
        .groupBy("bigram").agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(25)
    )


@register(
    "q_tfidf_terms",
    oracle="""
    WITH tok AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    tf AS (
        SELECT lang, term, COUNT(*) AS tf FROM tok GROUP BY lang, term
    ),
    df AS (
        SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.lang, tf.term,
               CAST(tf.tf AS BIGINT) AS tf,
               CAST(df.df AS BIGINT) AS df,
               CAST(tf.tf * n.n_docs AS DOUBLE) / df.df AS score
        FROM tf JOIN df USING (term), n
    )
    SELECT lang, term, tf, df, score FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY lang ORDER BY score DESC, term) AS rk
        FROM scored)
    WHERE rk <= 5
    ORDER BY lang, score DESC, term
    """,
)
def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per language by tf·idf with a RATIONAL
    idf (tf·N/df instead of tf·ln(N/df)): ln() is libm-dependent and can
    differ in the last ulp between engines, while integer-product /
    integer division is one deterministic IEEE op. Rank order is
    identical since ln is monotone.

    Scale: explode -> two hash aggregates (lang-term and term) + a
    term-keyed join of two already-aggregated sides, then a lang-window
    rank over the (small) per-lang term lists.
    """
    docs = table(spark, sf_dir, "documents")
    # corpus size folded into the plan as a 1-row broadcast — no
    # driver-side count() at plan-construction time
    n = docs.agg(F.count("*").alias("n_docs"))
    tok = docs.select("doc_id", "lang",
                      F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("lang", "term").agg(F.count("*").alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    from pyspark.sql import Window as W
    scored = (tf.join(df, "term").crossJoin(F.broadcast(n))
              .select("lang", "term",
                      F.col("tf").cast("long").alias("tf"),
                      F.col("df").cast("long").alias("df"),
                      ((F.col("tf") * F.col("n_docs")).cast("double")
                       / F.col("df")).alias("score")))
    w = W.partitionBy("lang").orderBy(F.desc("score"), "term")
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 5).drop("rk")
            .orderBy("lang", F.desc("score"), "term"))


@register(
    "q_label_balance",
    oracle="""
    SELECT label,
           COUNT(*) AS n,
           CAST(COUNT(*) AS DOUBLE)
           / (SELECT COUNT(*) FROM embeddings) AS share
    FROM embeddings
    GROUP BY label
    ORDER BY label
    """,
)
def q_label_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balance report over the labeled embeddings — the sanity
    pass before a training run (share per label; skew here means a
    weighted sampler or the mixture operator is needed)."""
    emb = table(spark, sf_dir, "embeddings")
    tot = emb.agg(F.count("*").alias("total"))
    return (emb.groupBy("label")
            .agg(F.count("*").alias("n"))
            .crossJoin(F.broadcast(tot))
            .select("label", "n",
                    (F.col("n").cast("double") / F.col("total"))
                    .alias("share"))
            .orderBy("label"))


@register(
    "q_text_token_stats",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang, n_chars,
               string_split(text, ' ') AS toks
        FROM documents
    )
    SELECT doc_id, lang,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_distinct_tokens,
           CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
               AS type_token_ratio,
           CAST(n_chars AS DOUBLE) / len(toks) AS chars_per_token
    FROM t
    ORDER BY doc_id
    """,
)
def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts, vocabulary size, type-token ratio."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return (
        docs.select(
            "doc_id", "lang",
            F.size(toks).alias("n_tokens"),
            F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
            (F.size(F.array_distinct(toks)).cast("double") / F.size(toks))
            .alias("type_token_ratio"),
            (F.col("n_chars").cast("double") / F.size(toks))
            .alias("chars_per_token"),
        )
        .orderBy("doc_id")
    )


@register(
    "q_text_quality",
    oracle=f"""
    WITH q AS (
        SELECT doc_id, source,
               length(text) AS len_chars,
               len(string_split(text, ' ')) AS n_tokens,
               length(regexp_replace(text, '[^aeiou]', '', 'g'))
                   AS n_vowels,
               len(list_filter(string_split(text, ' '),
                   t -> list_contains({STOPWORDS!r}, t))) AS n_stopwords
        FROM documents
    )
    SELECT doc_id, source, len_chars, n_tokens,
           CAST(n_vowels AS DOUBLE) / len_chars AS vowel_ratio,
           CAST(n_stopwords AS DOUBLE) / n_tokens AS stopword_ratio,
           CASE WHEN n_tokens >= 20
                 AND CAST(n_stopwords AS DOUBLE) / n_tokens > 0.05
                THEN 1 ELSE 0 END AS quality_keep
    FROM q
    ORDER BY doc_id
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring: length, vowel ratio, stopword ratio and
    a keep/drop gate — the shape of a C4/Gopher-style quality filter."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    sw = F.array([F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    n_vowels = F.length(F.regexp_replace("text", "[^aeiou]", ""))
    q = docs.select(
        "doc_id", "source",
        F.length("text").alias("len_chars"),
        F.size(toks).alias("n_tokens"),
        n_vowels.alias("n_vowels"),
        n_stop.alias("n_stopwords"),
    )
    return (
        q.select(
            "doc_id", "source", "len_chars", "n_tokens",
            (F.col("n_vowels").cast("double") / F.col("len_chars"))
            .alias("vowel_ratio"),
            (F.col("n_stopwords").cast("double") / F.col("n_tokens"))
            .alias("stopword_ratio"),
            F.when((F.col("n_tokens") >= 20)
                   & (F.col("n_stopwords").cast("double")
                      / F.col("n_tokens") > 0.05), 1)
            .otherwise(0).alias("quality_keep"),
        )
        .orderBy("doc_id")
    )


@register(
    "q_text_langid",
    oracle=f"""
    WITH s AS (
        SELECT lang,
               COUNT(*) AS n_docs,
               {sql_davg("CAST(len(list_filter(string_split(text, ' '), "
                         f"t -> list_contains({STOPWORDS!r}, t))) AS DOUBLE)"
                         " / len(string_split(text, ' '))",
                         "avg_en_signal", 6)},
               {sql_davg("CAST(length(regexp_replace(text, '[^aeiou]', '', 'g'))"
                         " AS DOUBLE) / length(text)", "avg_vowel_ratio", 6)}
        FROM documents
        GROUP BY lang
    )
    SELECT * FROM s ORDER BY lang
    """,
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-signal profile per labeled language: the n-gram/stopword
    heuristic signals a language-ID filter would threshold on. (The corpus
    is synthetic so signals, not predictions, are the checkable output.)"""
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    sw = F.array([F.lit(s) for s in STOPWORDS])
    en_signal = (F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
                 .cast("double") / F.size(toks))
    vowel_ratio = (F.length(F.regexp_replace("text", "[^aeiou]", ""))
                   .cast("double") / F.length("text"))
    return (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             davg(en_signal, "avg_en_signal", 6),
             davg(vowel_ratio, "avg_vowel_ratio", 6))
        .orderBy("lang")
    )


@register(
    "q_text_bpe_tokens",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(text,
               '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS n_bpe_tokens,
           len(string_split(text, ' ')) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text,
               '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS DOUBLE)
           / len(string_split(text, ' ')) AS tokens_per_word
    FROM documents
    ORDER BY doc_id
    """,
)
def q_text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, BPE-ish: a subword-style regex (letter runs, digit
    runs, single punctuation) next to whitespace tokens — the cheap
    pre-tokenizer pass that estimates LLM token budgets at corpus scale.
    Pattern restricted to classes with identical Java/RE2 semantics."""
    docs = table(spark, sf_dir, "documents")
    bpe = F.size(F.regexp_extract_all(
        "text", F.lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), 0))
    ws = F.size(F.split("text", " "))
    return (docs.select(
        "doc_id",
        bpe.alias("n_bpe_tokens"),
        ws.alias("n_ws_tokens"),
        (bpe.cast("double") / ws).alias("tokens_per_word"))
        .orderBy("doc_id"))


@register(
    "q_tokenizer_fertility",
    oracle="""
    WITH t AS (
        SELECT lang,
               len(regexp_extract_all(text,
                   '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS bpe,
               len(string_split(text, ' ')) AS ws,
               length(text) AS chars,
               octet_length(encode(text)) AS bytes
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(bpe) AS BIGINT) AS n_tokens,
           CAST(SUM(ws) AS BIGINT) AS n_words,
           CAST(SUM(bytes) AS BIGINT) AS n_bytes,
           CAST(1000000 * SUM(bpe) // SUM(ws) AS BIGINT)
               AS fertility_ppm,
           CAST(1000000 * SUM(chars) // SUM(bpe) AS BIGINT)
               AS chars_per_token_ppm,
           CAST(1000000 * SUM(bytes) // SUM(bpe) AS BIGINT)
               AS bytes_per_token_ppm
    FROM t
    GROUP BY lang
    ORDER BY lang
    """,
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility census per language — the standard
    multilingual tokenizer-quality report (fertility = subword tokens
    per whitespace word; a tokenizer that fragments a language inflates
    its training cost and shrinks its effective context): corpus-level
    tokens/words/bytes plus integer-ppm fertility, chars-per-token and
    bytes-per-token, using the same BPE-ish pre-tokenizer as
    q_text_bpe_tokens. Languages whose bytes_per_token is far below the
    corpus norm are the ones a vocabulary rebuild should up-weight.

    Scale: one text scan with per-row regexp counting (codegen,
    JVM-side), one |langs|-row hash aggregate with map-side partials —
    nothing shuffles but (lang, partial sums). All-integer ppm ratios,
    so the DuckDB oracle matches bit for bit."""
    docs = table(spark, sf_dir, "documents")
    bpe = F.size(F.regexp_extract_all(
        "text", F.lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), 0))
    agg = (docs.select(
        "lang", bpe.alias("bpe"),
        F.size(F.split("text", " ")).alias("ws"),
        F.length("text").alias("chars"),
        F.octet_length("text").alias("bytes"))
        .groupBy("lang")
        .agg(F.count("*").cast("long").alias("n_docs"),
             F.sum("bpe").cast("long").alias("n_tokens"),
             F.sum("ws").cast("long").alias("n_words"),
             F.sum("chars").cast("long").alias("n_chars_sum"),
             F.sum("bytes").cast("long").alias("n_bytes")))
    return (agg.select(
        "lang", "n_docs", "n_tokens", "n_words", "n_bytes",
        F.expr("CAST(1000000 * n_tokens DIV n_words AS BIGINT)")
        .alias("fertility_ppm"),
        F.expr("CAST(1000000 * n_chars_sum DIV n_tokens AS BIGINT)")
        .alias("chars_per_token_ppm"),
        F.expr("CAST(1000000 * n_bytes DIV n_tokens AS BIGINT)")
        .alias("bytes_per_token_ppm"))
        .orderBy("lang"))


@register(
    "q_text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split(text, ' '),
                       t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)
                            % 2147483647)),
               (acc, x) -> (acc * 31 + x) % 2147483647) AS fingerprint,
           md5(text) AS exact_digest
    FROM documents
    ORDER BY doc_id
    """,
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting via order-sensitive rolling hash over the
    token stream (h = h*31 + hash(tok) mod P): equal only for identical
    token sequences — the positional complement of the bag-of-words
    fingerprint (q_dedup_fingerprint). Both engines left-fold."""
    docs = table(spark, sf_dir, "documents")
    fp = F.expr(
        "aggregate(transform(split(text, ' '), t ->"
        " CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT)"
        " % 2147483647),"
        " CAST(0 AS BIGINT), (acc, x) -> (acc * 31 + x) % 2147483647)")
    return (docs.select("doc_id", fp.alias("fingerprint"),
                        F.md5("text").alias("exact_digest"))
            .orderBy("doc_id"))


@register(
    "q_repetition_ratios",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    tc AS (
        SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY doc_id, t
    ),
    tstats AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
               MAX(c) AS top_token_count
        FROM tc GROUP BY doc_id
    ),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, len(string_split(text, ' '))),
                   i -> string_split(text, ' ')[CAST(i AS INT)] || ' '
                        || string_split(text, ' ')[CAST(i AS INT) + 1]))
                   AS b
        FROM documents
        WHERE len(string_split(text, ' ')) >= 2
    ),
    bc AS (
        SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY doc_id, b
    ),
    bstats AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
               CAST(COALESCE(SUM(CASE WHEN c > 1 THEN c END), 0) AS BIGINT)
                   AS dup_bigram_occ
        FROM bc GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_tokens, t.top_token_count,
           CAST(t.top_token_count AS DOUBLE) / t.n_tokens AS top_token_frac,
           b.dup_bigram_occ,
           CAST(b.dup_bigram_occ AS DOUBLE) / b.n_bigrams AS dup_bigram_frac,
           CASE WHEN CAST(t.top_token_count AS DOUBLE) / t.n_tokens <= 0.2
                 AND CAST(b.dup_bigram_occ AS DOUBLE) / b.n_bigrams <= 0.6
                THEN 1 ELSE 0 END AS repetition_keep
    FROM tstats t JOIN bstats b ON t.doc_id = b.doc_id
    ORDER BY t.doc_id
    """,
)
def q_repetition_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: the fraction
    of tokens that are the single most frequent token, and the fraction of
    bigram occurrences that are duplicated within the document — the two
    classic "degenerate repetition" filters an LLM corpus pipeline runs
    before training (Rae et al. 2021 §A1 use exactly these shapes).

    Scale: two narrow explode->per-(doc,gram) hash-agg->per-doc hash-agg
    chains joined on doc_id. Every aggregate has map-side partials; no
    token ever crosses the shuffle unaggregated twice; the doc_id join is
    between two already-reduced per-doc frames. Ratios are single integer
    divisions (deterministic IEEE on identical int inputs both engines).
    """
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")

    tok = docs.select("doc_id", F.explode(toks).alias("t"))
    tc = tok.groupBy("doc_id", "t").agg(F.count("*").alias("c"))
    tstats = tc.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.max("c").alias("top_token_count"))

    bigrams = F.expr(
        "transform(sequence(1, size(split(text, ' ')) - 1),"
        " i -> concat(element_at(split(text, ' '), i), ' ',"
        "             element_at(split(text, ' '), i + 1)))")
    bg = (docs.filter(F.size(toks) >= 2)
          .select("doc_id", F.explode(bigrams).alias("b")))
    bc = bg.groupBy("doc_id", "b").agg(F.count("*").alias("c"))
    bstats = bc.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        F.coalesce(F.sum(F.when(F.col("c") > 1, F.col("c"))), F.lit(0))
        .alias("dup_bigram_occ"))

    top_frac = (F.col("top_token_count").cast("double")
                / F.col("n_tokens"))
    dup_frac = (F.col("dup_bigram_occ").cast("double")
                / F.col("n_bigrams"))
    return (
        tstats.join(bstats, "doc_id")
        .select(
            "doc_id", "n_tokens", "top_token_count",
            top_frac.alias("top_token_frac"),
            "dup_bigram_occ",
            dup_frac.alias("dup_bigram_frac"),
            F.when((top_frac <= 0.2) & (dup_frac <= 0.6), 1)
            .otherwise(0).alias("repetition_keep"),
        )
        .orderBy("doc_id")
    )


# Induced-vocabulary size for the OOV-coverage report (the corpus has ~31
# distinct tokens at every SF, so a 16-entry vocab leaves a real OOV tail).
VOCAB_K = 16


@register(
    "q_vocab_coverage",
    oracle=f"""
    WITH tok AS (
        SELECT lang, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    vocab AS (
        SELECT t FROM tok GROUP BY t
        ORDER BY COUNT(*) DESC, t LIMIT {VOCAB_K}
    )
    SELECT lang,
           COUNT(*) AS total_tokens,
           CAST(COALESCE(SUM(CASE WHEN v.t IS NULL THEN 1 END), 0)
                AS BIGINT) AS oov_tokens,
           CAST(COALESCE(SUM(CASE WHEN v.t IS NULL THEN 1 END), 0) * 1000
                // COUNT(*) AS BIGINT) AS oov_permille
    FROM tok LEFT JOIN vocab v USING (t)
    GROUP BY lang
    ORDER BY lang
    """,
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: induce a top-K token vocabulary
    corpus-wide, then report per-language out-of-vocabulary token rates —
    the check a training pipeline runs to decide whether a tokenizer's
    vocab serves every language slice.

    Scale: the vocab is a K-row aggregate (map-side partial counts, then
    TakeOrdered over distinct tokens), BROADCAST back against the token
    stream; the big side shuffles only for the final per-lang aggregate
    (5 groups, map-side combine). OOV rate is integer permille — exact in
    both engines.
    """
    docs = table(spark, sf_dir, "documents")
    tok = docs.select("lang", F.explode(F.split("text", " ")).alias("t"))
    vocab = (tok.groupBy("t").agg(F.count("*").alias("c"))
             .orderBy(F.desc("c"), "t").limit(VOCAB_K).select("t"))
    oov = F.coalesce(
        F.sum(F.when(F.col("v_t").isNull(), 1)), F.lit(0))
    return (
        tok.join(F.broadcast(vocab.withColumnRenamed("t", "v_t")),
                 tok["t"] == F.col("v_t"), "left")
        .groupBy("lang")
        .agg(F.count("*").alias("total_tokens"),
             oov.alias("oov_tokens"),
             (oov * 1000).cast("bigint").alias("_oov_k"))
        .select("lang", "total_tokens", "oov_tokens",
                F.expr("_oov_k DIV total_tokens").alias("oov_permille"))
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Bigram conditional-probability language model
# ---------------------------------------------------------------------------

LM_TOP = 20


@register(
    "q_bigram_lm",
    oracle=f"""
    WITH t AS (
        SELECT string_split(text, ' ') AS toks FROM documents
    ),
    bg AS (
        SELECT unnest(list_transform(
                   range(1, greatest(len(toks) - 1, 1) + 1),
                   i -> toks[CAST(i AS INT)] || ' '
                        || coalesce(toks[CAST(i AS INT) + 1], ''))) AS bigram
        FROM t
        WHERE len(toks) >= 2
    ),
    counts AS (
        SELECT split_part(bigram, ' ', 1) AS w1,
               split_part(bigram, ' ', 2) AS w2,
               CAST(COUNT(*) AS BIGINT) AS c12
        FROM bg
        WHERE bigram NOT LIKE '% '
        GROUP BY 1, 2
    )
    SELECT w1, w2, c12, CAST(c1 AS BIGINT) AS c1,
           CAST((1000 * c12) // c1 AS BIGINT) AS p_permille
    FROM (SELECT *, SUM(c12) OVER (PARTITION BY w1) AS c1 FROM counts)
    ORDER BY c12 DESC, w1, w2
    LIMIT {LM_TOP}
    """,
)
def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-based bigram language model: conditional transition
    probability p(w2|w1) = c(w1,w2)/c(w1·) in integer permille, for the
    top-{LM_TOP} bigrams. c(w1·) sums over bigrams STARTING with w1 (not
    raw unigram counts), so each w1's distribution normalizes to exactly
    1000‰ — the proper MLE for a Markov chain over the corpus.

    Scale: same narrow bigram construction as q_token_bigrams, one
    (w1,w2) hash aggregate with map-side partials, then a w1-partitioned
    window over the ALREADY-AGGREGATED counts (vocabulary-sized, not
    corpus-sized), top-k as TakeOrderedAndProject.
    """
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    bigrams = F.expr(
        "transform(sequence(1, greatest(size(toks) - 1, 1)),"
        " i -> concat(toks[i-1], ' ', coalesce(toks[i], '')))")
    from pyspark.sql import Window as W
    counts = (
        docs.select(toks.alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .filter(~F.col("bigram").endswith(" "))
        .select(F.expr("split_part(bigram, ' ', 1)").alias("w1"),
                F.expr("split_part(bigram, ' ', 2)").alias("w2"))
        .groupBy("w1", "w2").agg(F.count("*").cast("long").alias("c12"))
    )
    return (counts
            .withColumn("c1", F.sum("c12").over(W.partitionBy("w1")))
            .withColumn("p_permille", F.expr("(1000 * c12) DIV c1"))
            .select("w1", "w2", "c12", "c1", "p_permille")
            .orderBy(F.desc("c12"), "w1", "w2")
            .limit(LM_TOP))


# ---------------------------------------------------------------------------
# Bigram novelty (memorization-risk complement)
# ---------------------------------------------------------------------------

NOVELTY_TOP = 20


@register(
    "q_bigram_novelty",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    bg AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(
                   range(1, greatest(len(toks) - 1, 1) + 1),
                   i -> toks[CAST(i AS INT)] || ' '
                        || coalesce(toks[CAST(i AS INT) + 1], ''))) AS bigram
        FROM t
        WHERE len(toks) >= 2
    ),
    clean AS (SELECT doc_id, bigram FROM bg WHERE bigram NOT LIKE '% '),
    df AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS bdf
           FROM clean GROUP BY bigram)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CASE WHEN bdf = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unique,
           CAST((1000 * SUM(CASE WHEN bdf = 1 THEN 1 ELSE 0 END))
                // COUNT(*) AS BIGINT) AS novelty_pm
    FROM clean JOIN df USING (bigram)
    GROUP BY doc_id
    ORDER BY novelty_pm DESC, doc_id
    LIMIT {NOVELTY_TOP}
    """,
)
def q_bigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the permille of a doc's DISTINCT token
    bigrams that occur in no other document (corpus document-frequency
    1). High-novelty docs contribute fresh n-gram mass to a training
    mix; low scores mark template/boilerplate documents — the complement
    of q_substring_hotspots' memorization-risk report.

    Scale: bigram construction is the same narrow explode; the df table
    aggregates to vocabulary size; the doc-side rejoin is keyed on the
    bigram (same exchange as the df aggregate) and the final per-doc
    aggregate is map-side partial. Top-k plans as TakeOrderedAndProject.
    """
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    bigrams = F.expr(
        "transform(sequence(1, greatest(size(toks) - 1, 1)),"
        " i -> concat(toks[i-1], ' ', coalesce(toks[i], '')))")
    clean = (
        docs.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 2)
        .select("doc_id", F.explode(bigrams).alias("bigram"))
        .filter(~F.col("bigram").endswith(" "))
        .distinct())
    df = clean.groupBy("bigram").agg(
        F.count("*").cast("long").alias("bdf"))
    return (
        clean.join(df, "bigram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_bigrams"),
             F.sum(F.when(F.col("bdf") == 1, 1).otherwise(0))
             .cast("long").alias("n_unique"))
        .withColumn("novelty_pm",
                    F.expr("(1000 * n_unique) DIV n_bigrams"))
        .orderBy(F.desc("novelty_pm"), "doc_id")
        .limit(NOVELTY_TOP)
    )


# ---------------------------------------------------------------------------
# Model-based document scoring (dogfoods the bigram LM)
# ---------------------------------------------------------------------------

LM_SCORE_BOTTOM = 15

# Shared oracle CTE chain ending in ``scores(doc_id, lang, n_bigrams,
# lm_score_permille)`` — the SQL twin of :func:`doc_lm_scores`, used by
# the q_doc_lm_score (bottom-k) and q_ccnet_tiers (tier census) oracles.
_DOC_LM_SQL = """t AS (
        SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
    ),
    bg AS (
        SELECT doc_id, lang,
               unnest(list_transform(
                   range(1, greatest(len(toks) - 1, 1) + 1),
                   i -> toks[CAST(i AS INT)] || ' '
                        || coalesce(toks[CAST(i AS INT) + 1], ''))) AS bigram
        FROM t
        WHERE len(toks) >= 2
    ),
    clean AS (
        SELECT doc_id, lang,
               split_part(bigram, ' ', 1) AS w1,
               split_part(bigram, ' ', 2) AS w2
        FROM bg WHERE bigram NOT LIKE '% '
    ),
    docbg AS (
        SELECT doc_id, lang, w1, w2, CAST(COUNT(*) AS BIGINT) AS k
        FROM clean GROUP BY ALL
    ),
    corpus AS (
        SELECT w1, w2, CAST(SUM(k) AS BIGINT) AS c12 FROM docbg GROUP BY 1, 2
    ),
    p AS (
        SELECT w1, w2,
               (1000 * c12)
               // CAST(SUM(c12) OVER (PARTITION BY w1) AS BIGINT)
               AS p_permille
        FROM corpus
    ),
    scores AS (
        SELECT doc_id, lang, n_bigrams, sp // n_bigrams AS lm_score_permille
        FROM (
            SELECT d.doc_id, d.lang,
                   CAST(SUM(d.k) AS BIGINT) AS n_bigrams,
                   CAST(SUM(d.k * p.p_permille) AS BIGINT) AS sp
            FROM docbg d JOIN p USING (w1, w2) GROUP BY 1, 2
        )
    )"""


@register(
    "q_doc_lm_score",
    oracle=f"""
    WITH {_DOC_LM_SQL}
    SELECT doc_id, lang, n_bigrams, lm_score_permille
    FROM scores
    ORDER BY lm_score_permille, doc_id
    LIMIT 15
    """)
def q_doc_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring: each document's mean bigram transition
    probability under the corpus's OWN Markov LM (q_bigram_lm), in integer
    permille; reports the {LM_SCORE_BOTTOM} least-likely documents — the
    "perplexity filter" of a training-data pipeline restated exactly (low
    mean transition probability == high perplexity == boilerplate-free
    outlier or junk worth human review).

    Scale: the per-doc bigram census (doc_id, w1, w2, k) is built once;
    the corpus LM aggregates FROM it (no second scan of the text), its
    normalizer rides a w1-partitioned window over the vocabulary-sized
    aggregate, and scoring is an equi-join on (w1, w2) — bounded by
    vocab², never corpus size. All-integer arithmetic end to end, so the
    DuckDB oracle matches bit for bit; ranking is total-ordered
    (score, doc_id) under TakeOrderedAndProject."""
    return (doc_lm_scores(spark, sf_dir)
            .orderBy("lm_score_permille", "doc_id")
            .limit(LM_SCORE_BOTTOM))


def doc_bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, w1, w2, k): each document's bigram census — the
    shared first stage of LM training and LM scoring. Works on a batch
    frame OR a per-micro-batch frame (pure narrow ops + one keyed
    aggregate)."""
    toks = F.split("text", " ")
    bigrams = F.expr(
        "transform(sequence(1, greatest(size(toks) - 1, 1)),"
        " i -> concat(toks[i-1], ' ', coalesce(toks[i], '')))")
    return (
        docs.select("doc_id", "lang", toks.alias("toks"))
        .filter(F.size("toks") >= 2)
        .select("doc_id", "lang", F.explode(bigrams).alias("bigram"))
        .filter(~F.col("bigram").endswith(" "))
        .select("doc_id", "lang",
                F.expr("split_part(bigram, ' ', 1)").alias("w1"),
                F.expr("split_part(bigram, ' ', 2)").alias("w2"))
        .groupBy("doc_id", "lang", "w1", "w2")
        .agg(F.count("*").cast("long").alias("k")))


def bigram_lm_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(w1, w2, p_permille): the corpus-trained bigram transition model
    — vocab^2-bounded, checkpointed and memoized per (session, sf_dir).
    The written-model stand-in: at 100 TB this is trained offline and
    broadcast into every scoring join (batch or streaming). Exposed
    apart from :func:`doc_lm_scores` so the streaming quality cascade
    scores arriving documents against the same (static, broadcastable,
    vocab^2-bounded) model the batch cascade scores against."""
    def build() -> DataFrame:
        from pyspark.sql import Window as W
        corpus = (doc_bigrams(table(spark, sf_dir, "documents"))
                  .groupBy("w1", "w2")
                  .agg(F.sum("k").cast("long").alias("c12")))
        return (corpus
                .withColumn("c1", F.sum("c12").over(W.partitionBy("w1")))
                .select("w1", "w2",
                        F.expr("(1000 * c12) DIV c1").alias("p_permille"))
                .localCheckpoint(eager=False))
    return memo(spark, ("lm_model", sf_dir), build)


def lm_score_frame(docs: DataFrame, model: DataFrame) -> DataFrame:
    """(doc_id, lang, n_bigrams, lm_score_permille): score ``docs``
    against a bigram LM ``model`` — mean transition probability over
    the bigrams the model knows (inner join; a document whose every
    bigram is unseen yields no row, the caller's LEFT join turns that
    into the -1 sentinel). Exact integer arithmetic end to end."""
    return (doc_bigrams(docs).join(F.broadcast(model), ["w1", "w2"])
            .groupBy("doc_id", "lang")
            .agg(F.sum(F.expr("k * p_permille")).cast("long").alias("sp"),
                 F.sum("k").cast("long").alias("n_bigrams"))
            .select("doc_id", "lang", "n_bigrams",
                    F.expr("sp div n_bigrams").alias("lm_score_permille")))


def doc_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, n_bigrams, lm_score_permille) for every document
    with >= 1 bigram: mean corpus-LM transition probability in integer
    permille — the scoring frame behind q_doc_lm_score (bottom-k
    report), q_ccnet_tiers (per-language tier census) and
    q_token_budget_pack (budget selection); checkpointed and memoized
    per (session, sf_dir): the per-doc bigram census + corpus-LM join
    is the shared linear term of those three queries, so one session
    builds it once — the stand-in for the written quality-scores table
    a CCNet-style pipeline materializes before any selection runs.
    Composition of :func:`bigram_lm_model` (train) and
    :func:`lm_score_frame` (score) — result-identical to the pre-split
    inline form."""
    return memo(spark, ("lm_scores", sf_dir), lambda: (
        lm_score_frame(table(spark, sf_dir, "documents"),
                       bigram_lm_model(spark, sf_dir))
        .localCheckpoint(eager=False)))


def ntile3_by_score(pool: DataFrame, n_parts: int = 32) -> DataFrame:
    """NTILE(3) over (lang ORDER BY score DESC, doc_id) WITHOUT a
    per-language window — returns (doc_id, lang, score, tier).

    Histogram decomposition (same discipline as
    :func:`~columnar_estimator_sample_spark.operators.corpus.budget_pack`):
    the (lang, score) count histogram carries each score block's
    position range [cum_before+1, cum_before+cnt]; blocks lying wholly
    inside one tercile assign their docs with NO window at all, and
    only the <= 2 blocks per language that straddle a tercile boundary
    rank their docs by doc_id — via a two-phase prefix count (range
    partition, local row_number, tiny offset table), never a
    single-task sort. Exactly matches NTILE semantics: with n = per-lang
    count, q = n DIV 3, r = n % 3, the first r terciles hold q+1 docs."""
    from pyspark.sql import Window as W
    hist = (pool.groupBy("lang", "score")
            .agg(F.count("*").cast("long").alias("cnt")))
    w_h = (W.partitionBy("lang").orderBy(F.desc("score"))
           .rowsBetween(W.unboundedPreceding, -1))
    hist = hist.withColumn(
        "cum_before", F.coalesce(F.sum("cnt").over(w_h), F.lit(0)))
    bounds = (pool.groupBy("lang").agg(F.count("*").cast("long").alias("n"))
              .select("lang",
                      F.expr("n DIV 3 + CASE WHEN n % 3 >= 1 THEN 1 "
                             "ELSE 0 END").alias("b1"),
                      F.expr("2 * (n DIV 3) + CASE WHEN n % 3 >= 1 THEN 1 "
                             "ELSE 0 END + CASE WHEN n % 3 >= 2 THEN 1 "
                             "ELSE 0 END").alias("b2")))
    tier_of = ("CASE WHEN {pos} <= b1 THEN 1 "
               "WHEN {pos} <= b2 THEN 2 ELSE 3 END")
    blocks = (hist.join(F.broadcast(bounds), "lang")
              .withColumn("t_start",
                          F.expr(tier_of.format(pos="cum_before + 1")))
              .withColumn("t_end",
                          F.expr(tier_of.format(pos="cum_before + cnt"))))
    uniform = (blocks.filter(F.col("t_start") == F.col("t_end"))
               .select("lang", "score",
                       F.col("t_start").cast("long").alias("tier")))
    straddle = (blocks.filter(F.col("t_start") != F.col("t_end"))
                .select("lang", "score", "cum_before", "b1", "b2"))
    base = pool.select("doc_id", "lang", "score")
    kept_uniform = base.join(F.broadcast(uniform), ["lang", "score"])
    bdocs = (base.join(F.broadcast(straddle), ["lang", "score"])
             .repartitionByRange(n_parts, "lang", "score", "doc_id")
             .withColumn("__pid", F.spark_partition_id()))
    w_local = W.partitionBy("__pid", "lang", "score").orderBy("doc_id")
    local = bdocs.withColumn("__lr", F.row_number().over(w_local))
    w_off = (W.partitionBy("lang", "score").orderBy("__pid")
             .rowsBetween(W.unboundedPreceding, -1))
    offsets = (local.groupBy("__pid", "lang", "score")
               .agg(F.count("*").alias("__pc"))
               .withColumn("__off",
                           F.coalesce(F.sum("__pc").over(w_off), F.lit(0)))
               .select("__pid", "lang", "score", "__off"))
    kept_straddle = (
        local.join(F.broadcast(offsets), ["__pid", "lang", "score"])
        .withColumn("tier",
                    F.expr(tier_of.format(
                        pos="cum_before + __off + __lr")).cast("long"))
        .select("doc_id", "lang", "score", "tier"))
    return kept_uniform.select("doc_id", "lang", "score", "tier") \
        .unionByName(kept_straddle)


# Switch-over threshold for q_ccnet_tiers' per-language NTILE window:
# one language's narrow (doc_id, score) rows must fit one task — ~10^8
# rows (~1.6 GB at 16 B/row) is the documented bound (SCALE.md §5).
# Below it the window path is MEASURED faster (0.27 vs 1.5 s at sf0.1,
# 1.4 vs 4.0 s at 100x); above it the query takes the histogram path
# (:func:`ntile3_by_score`) automatically — no manual edit.
CCNET_WINDOW_MAX_DOCS_PER_LANG = 100_000_000


@register(
    "q_ccnet_tiers",
    oracle=f"""
    WITH {_DOC_LM_SQL},
    tiers AS (
        SELECT lang, doc_id, lm_score_permille,
               NTILE(3) OVER (PARTITION BY lang
                              ORDER BY lm_score_permille DESC, doc_id)
                   AS tier
        FROM scores
    )
    SELECT t.lang,
           CAST(t.tier AS BIGINT) AS tier,
           ['head', 'middle', 'tail'][CAST(t.tier AS INT)] AS tier_name,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(d.n_chars) AS BIGINT) AS total_chars,
           MIN(t.lm_score_permille) AS min_score,
           MAX(t.lm_score_permille) AS max_score
    FROM tiers t JOIN documents d ON d.doc_id = t.doc_id
    GROUP BY t.lang, t.tier
    ORDER BY 1, 2
    """)
def q_ccnet_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality tiers (Wenzek et al. 2020, arXiv:1911.00359):
    per language, split documents into head / middle / tail terciles by
    their language-model score (the paper uses KenLM perplexity; this
    engine's corpus-trained bigram LM plays that role — LOW mean
    transition probability == high perplexity == tail), and report the
    per-tier census a mixing pipeline consumes: doc count, character
    mass, and the score range. Tie-breaks on doc_id make the tercile
    assignment a total order, so both engines cut identical tiers.

    Scale: scoring is the q_doc_lm_score frame (one text scan, LM join
    bounded by vocab²); the census aggregates map-side. The tercile
    assignment picks its path by a plan-time footer check (the
    documents row count, an upper bound on any one language's docs, vs
    {CCNET_WINDOW_MAX_DOCS_PER_LANG} — no manual edit): the
    per-language NTILE window holds one lang's (doc_id, score) rows in
    one task — fine to ~10⁸ docs/lang (narrow rows), and MEASURED
    faster than the histogram decomposition at every testable scale
    (0.27 vs 1.5 s at sf0.1, 1.4 vs 4.0 s at 100× — the tier output is
    doc-linear either way, and heavy score ties put most of a language
    in the straddle block); when a language can outgrow a task the
    query takes :func:`ntile3_by_score` (property-pinned NTILE-exact,
    no single-task sort; tests pin both paths equal on the same pool)
    — the deliberate measured trade, same class as media_features
    staying scan-local."""
    from pyspark.sql import Window as W
    scores = doc_lm_scores(spark, sf_dir)
    if (parquet_num_rows(os.path.join(sf_dir, "documents.parquet"))
            > CCNET_WINDOW_MAX_DOCS_PER_LANG):
        tiers = (ntile3_by_score(
            scores.select("doc_id", "lang",
                          F.col("lm_score_permille").alias("score")))
            .select("doc_id", "lang",
                    F.col("score").alias("lm_score_permille"),
                    F.col("tier").cast("long").alias("tier")))
    else:
        w = W.partitionBy("lang").orderBy(F.desc("lm_score_permille"),
                                          F.asc("doc_id"))
        tiers = scores.withColumn("tier",
                                  F.ntile(3).over(w).cast("long"))
    chars = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return (tiers.join(chars, "doc_id")
            .groupBy("lang", "tier")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("total_chars"),
                 F.min("lm_score_permille").alias("min_score"),
                 F.max("lm_score_permille").alias("max_score"))
            .withColumn("tier_name",
                        F.element_at(F.array(F.lit("head"), F.lit("middle"),
                                             F.lit("tail")),
                                     F.col("tier").cast("int")))
            .select("lang", "tier", "tier_name", "n_docs", "total_chars",
                    "min_score", "max_score")
            .orderBy("lang", "tier"))


# ---------------------------------------------------------------------------
# Hapax legomena share (Zipf-tail health)
# ---------------------------------------------------------------------------


@register(
    "q_hapax_share",
    oracle="""
    WITH toks AS (
        SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
    ), counts AS (
        SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM toks WHERE len(tok) > 0 GROUP BY 1, 2
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS vocab_size,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS hapax_count,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           (1000 * CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT))
               // CAST(COUNT(*) AS BIGINT) AS hapax_permille
    FROM counts
    GROUP BY lang
    ORDER BY lang
    """)
def q_hapax_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax legomena share per language: the fraction of each language's
    vocabulary occurring exactly once — the Zipf-tail health metric a
    corpus audit reads before tokenizer training (a natural corpus sits
    near ~40-60%; far below suggests boilerplate/dedup failure, far above
    suggests OCR noise or encoding damage).

    Scale: token explode -> one (lang, tok) hash aggregate with map-side
    partials (vocabulary-sized, not corpus-sized), then a |langs|-row
    rollup. All integers."""
    docs = table(spark, sf_dir, "documents")
    counts = (docs.select("lang",
                          F.explode(F.split("text", " ")).alias("tok"))
              .filter(F.length("tok") > 0)
              .groupBy("lang", "tok")
              .agg(F.count("*").cast("long").alias("c")))
    return (counts.groupBy("lang")
            .agg(F.count("*").cast("long").alias("vocab_size"),
                 F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
                 .cast("long").alias("hapax_count"),
                 F.sum("c").cast("long").alias("n_tokens"))
            .withColumn("hapax_permille",
                        F.expr("(1000 * hapax_count) div vocab_size"))
            .orderBy("lang"))


# ---------------------------------------------------------------------------
# Simpson diversity / effective vocabulary
# ---------------------------------------------------------------------------


@register(
    "q_simpson_diversity",
    oracle="""
    WITH toks AS (
        SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
    ), counts AS (
        SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM toks WHERE len(tok) > 0 GROUP BY 1, 2
    ), agg AS (
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS vocab_size,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS sum_c2
        FROM counts GROUP BY lang
    )
    SELECT lang, vocab_size, n_tokens,
           CAST(CAST(n_tokens AS HUGEINT) * n_tokens // sum_c2 AS BIGINT)
               AS effective_vocab,
           CAST((1000 * sum_c2) // (CAST(n_tokens AS HUGEINT) * n_tokens)
               AS BIGINT) AS concentration_permille
    FROM agg
    ORDER BY lang
    """)
def q_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson diversity of each language's token distribution: the
    inverse Simpson index n²/Σc² is the "effective vocabulary" (how many
    equally-frequent tokens would look like this corpus — the log-free
    cousin of perplexity-based diversity), and Σc²/n² is the repeat-
    collision concentration in permille. Both are ratios of exact big
    integers (DECIMAL(38,0)/HUGEINT sums, one floor division), so no
    entropy logarithm is ever taken and the oracle matches bit for bit.

    Scale: one token scan -> vocabulary-sized (lang, tok) aggregate with
    map-side partials -> |langs| rows. The c² sum rides 128-bit exact
    lanes in both engines; overflow-free at any corpus size."""
    docs = table(spark, sf_dir, "documents")
    counts = (docs.select("lang",
                          F.explode(F.split("text", " ")).alias("tok"))
              .filter(F.length("tok") > 0)
              .groupBy("lang", "tok")
              .agg(F.count("*").cast("long").alias("c")))
    agg = (counts.groupBy("lang")
           .agg(F.count("*").cast("long").alias("vocab_size"),
                F.sum("c").cast("long").alias("n_tokens"),
                F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * c"))
                .cast("decimal(38,0)").alias("sum_c2")))
    return (agg.select(
                "lang", "vocab_size", "n_tokens",
                F.expr("CAST(CAST(n_tokens AS DECIMAL(38,0)) * n_tokens"
                       " div sum_c2 AS BIGINT)").alias("effective_vocab"),
                F.expr("CAST((1000 * sum_c2) div"
                       " (CAST(n_tokens AS DECIMAL(38,0)) * n_tokens)"
                       " AS BIGINT)").alias("concentration_permille"))
            .orderBy("lang"))


# ---------------------------------------------------------------------------
# Grouped exact percentiles (length profile)
# ---------------------------------------------------------------------------

PCTS = (50, 90, 99)


@register(
    "q_length_percentiles",
    oracle=f"""
    WITH lens AS (
        SELECT lang, CAST(n_chars AS BIGINT) AS len FROM documents
    ), ranked AS (
        SELECT lang, len,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY len) AS rn,
               COUNT(*) OVER (PARTITION BY lang) AS n
        FROM lens
    )
    SELECT lang, CAST(n AS BIGINT) AS n_docs,
           {", ".join(
               f"MAX(CASE WHEN rn = 1 + ((n - 1) * {p}) // 100"
               f" THEN len END) AS p{p}_len" for p in PCTS)}
    FROM ranked
    GROUP BY lang, n
    ORDER BY lang
    """)
def q_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language document-length percentiles (p50/p90/p99) by
    rank selection — the "nearest-rank" percentile definition, which is
    integer-exact and engine-agnostic (no interpolation, no float
    quantile estimators: the pN is THE value at rank 1 + (n-1)*N/100).
    The length profile drives chunking and packing parameter choices
    upstream (q_pack_chunks / q_chunk_sliding).

    Scale: one (lang)-keyed exchange shared by the rank window and the
    count; the selector is a CASE-MAX rollup, not a self-join. Nearest-
    rank on ties is deterministic because length itself is the full sort
    key — equal lengths are interchangeable at the rank boundary."""
    from pyspark.sql import Window
    docs = table(spark, sf_dir, "documents")
    lens = docs.select("lang", F.col("n_chars").cast("long").alias("len"))
    wl = Window.partitionBy("lang")
    ranked = (lens
              .withColumn("rn", F.row_number().over(wl.orderBy("len")))
              .withColumn("n", F.count("*").over(wl)))
    sels = [F.max(F.when(
                F.expr(f"rn = 1 + ((n - 1) * {p}) div 100"),
                F.col("len"))).alias(f"p{p}_len")
            for p in PCTS]
    return (ranked.groupBy("lang", F.col("n").cast("long").alias("n_docs"))
            .agg(*sels)
            .orderBy("lang"))


# ---------------------------------------------------------------------------
# Concordance (keyword-in-context census)
# ---------------------------------------------------------------------------

KWIC_TERM = "vector"
KWIC_TOP = 15


@register(
    "q_kwic",
    oracle=f"""
    WITH t AS (
        SELECT string_split(text, ' ') AS toks FROM documents
    ), pos AS (
        SELECT toks, unnest(toks) AS tok,
               generate_subscripts(toks, 1) AS k
        FROM t
    ), hits AS (
        SELECT CASE WHEN k > 1 THEN toks[k - 1] ELSE '^' END AS prev_tok,
               COALESCE(toks[k + 1], '$') AS next_tok
        FROM pos WHERE tok = '{KWIC_TERM}'
    )
    SELECT '{KWIC_TERM}' AS term, prev_tok, next_tok,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM hits
    GROUP BY prev_tok, next_tok
    ORDER BY n DESC, prev_tok, next_tok
    LIMIT {KWIC_TOP}
    """)
def q_kwic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context concordance: the census of (previous, next)
    token contexts around '{KWIC_TERM}' across the corpus, with boundary
    markers ^/$ — the corpus linguist's first probe of how a term is
    used (and a quick collocation detector when one context dominates).

    Scale: the posexplode carries the token array alongside the index so
    neighbors are O(1) element_at lookups (no self-join on positions);
    the context census is a hash aggregate bounded by distinct context
    pairs; top-k total-ordered."""
    docs = table(spark, sf_dir, "documents")
    pos = (docs.select(F.split("text", " ").alias("toks"))
           .select("toks", F.posexplode("toks").alias("j", "tok"))
           .filter(F.col("tok") == KWIC_TERM))
    hits = pos.select(
        F.when(F.col("j") >= 1,
               F.element_at("toks", F.col("j"))).otherwise(F.lit("^"))
        .alias("prev_tok"),
        F.coalesce(F.try_element_at("toks", F.col("j") + 2), F.lit("$"))
        .alias("next_tok"))
    return (hits.groupBy("prev_tok", "next_tok")
            .agg(F.count("*").cast("long").alias("n"))
            .select(F.lit(KWIC_TERM).alias("term"), "prev_tok",
                    "next_tok", "n")
            .orderBy(F.desc("n"), "prev_tok", "next_tok")
            .limit(KWIC_TOP))


# ---------------------------------------------------------------------------
# Prefix autocomplete census
# ---------------------------------------------------------------------------

AC_PREFIX_LEN = 3
AC_TOP = 15


@register(
    "q_autocomplete",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ), t AS (
        SELECT tok FROM toks WHERE len(tok) >= {AC_PREFIX_LEN}
    ), c AS (
        SELECT substr(tok, 1, {AC_PREFIX_LEN}) AS prefix, tok,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM t GROUP BY 1, 2
    ), ptot AS (
        SELECT prefix, CAST(SUM(n) AS BIGINT) AS pn,
               CAST(COUNT(*) AS BIGINT) AS n_completions
        FROM c GROUP BY prefix
    ), best AS (
        SELECT prefix, tok AS top_completion, n FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY prefix
                                         ORDER BY n DESC, tok) AS rk
            FROM c
        ) WHERE rk = 1
    )
    SELECT b.prefix, p.n_completions, b.top_completion,
           (1000 * b.n) // p.pn AS top_share_permille
    FROM best b JOIN ptot p USING (prefix)
    ORDER BY p.pn DESC, b.prefix
    LIMIT {AC_TOP}
    """)
def q_autocomplete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-autocomplete census: for the {AC_TOP} hottest
    {AC_PREFIX_LEN}-char prefixes, the number of distinct completions,
    the most frequent completion, and its share of the prefix's traffic
    — the aggregate a type-ahead/suggest service precomputes (a trie's
    first level, relationally).

    Scale: tokens collapse to (prefix, token) counts with map-side
    partials; the per-prefix argmax is a window over the
    vocabulary-sized aggregate; all the raw-corpus work is ONE explode +
    hash aggregate."""
    from pyspark.sql import Window
    docs = table(spark, sf_dir, "documents")
    c = (docs.select(F.explode(F.split("text", " ")).alias("tok"))
         .filter(F.length("tok") >= AC_PREFIX_LEN)
         .groupBy(F.substring("tok", 1, AC_PREFIX_LEN).alias("prefix"),
                  "tok")
         .agg(F.count("*").cast("long").alias("n")))
    ptot = (c.groupBy("prefix")
            .agg(F.sum("n").cast("long").alias("pn"),
                 F.count("*").cast("long").alias("n_completions")))
    w = Window.partitionBy("prefix").orderBy(F.desc("n"), "tok")
    best = (c.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("prefix", F.col("tok").alias("top_completion"), "n"))
    return (best.join(ptot, "prefix")
            .select("prefix", "n_completions", "top_completion",
                    F.expr("(1000 * n) div pn").alias("top_share_permille"),
                    F.col("pn"))
            .orderBy(F.desc("pn"), "prefix")
            .limit(AC_TOP)
            .drop("pn"))


# ---------------------------------------------------------------------------
# Token co-location lift (order-free co-occurrence)
# ---------------------------------------------------------------------------

COLOC_VOCAB = 50   # restrict pairs to the top-df tokens (broadcast)
COLOC_TOP = 15


@register(
    "q_token_colocation",
    oracle=f"""
    WITH dt AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ), clean AS (SELECT doc_id, tok FROM dt WHERE len(tok) > 0),
    hot AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM clean
        GROUP BY tok ORDER BY df DESC, tok LIMIT {COLOC_VOCAB}
    ), hd AS (
        SELECT c.doc_id, c.tok, h.df FROM clean c JOIN hot h USING (tok)
    ), n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
             FROM documents),
    pairs AS (
        SELECT a.tok AS tok_a, b.tok AS tok_b,
               MAX(a.df) AS df_a, MAX(b.df) AS df_b,
               CAST(COUNT(*) AS BIGINT) AS n_both
        FROM hd a JOIN hd b
          ON b.doc_id = a.doc_id AND a.tok < b.tok
        GROUP BY 1, 2
    )
    SELECT tok_a, tok_b, n_both,
           CAST((1000 * CAST(n_both AS HUGEINT) * n.nd)
                // (CAST(df_a AS HUGEINT) * df_b) AS BIGINT)
               AS lift_permille
    FROM pairs CROSS JOIN n
    ORDER BY lift_permille DESC, tok_a, tok_b
    LIMIT {COLOC_TOP}
    """)
def q_token_colocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-free token co-location lift: for the {COLOC_VOCAB} highest-
    document-frequency tokens, which PAIRS co-occur in the same document
    more than independence predicts — lift = P(a,b)/(P(a)P(b)) in exact
    permille (the log-free PMI surrogate, the same statistic as
    q_copurchase applied to vocabulary instead of baskets). High-lift
    pairs are collocations/topics; the bigram tier only sees ADJACENT
    pairs, this sees whole-document affinity.

    Scale: the hot vocabulary is a broadcast top-k; pair candidates are
    doc-keyed self-joins bounded by {COLOC_VOCAB}²/2 per doc; 128-bit
    lanes for the lift cross-products."""
    from pyspark.sql import Window
    docs = table(spark, sf_dir, "documents")
    clean = (docs.select("doc_id",
                         F.explode(F.split("text", " ")).alias("tok"))
             .filter(F.length("tok") > 0)
             .distinct())
    hot = (clean.groupBy("tok")
           .agg(F.count("*").cast("long").alias("df"))
           .orderBy(F.desc("df"), "tok").limit(COLOC_VOCAB))
    hd = clean.join(F.broadcast(hot), "tok")
    nd = (docs.select("doc_id").distinct()
          .agg(F.count("*").cast("long").alias("nd")))
    a = hd.select("doc_id", F.col("tok").alias("tok_a"),
                  F.col("df").alias("df_a"))
    b = hd.select("doc_id", F.col("tok").alias("tok_b"),
                  F.col("df").alias("df_b"))
    pairs = (a.join(b, "doc_id")
             .filter(F.col("tok_a") < F.col("tok_b"))
             .groupBy("tok_a", "tok_b")
             .agg(F.max("df_a").alias("df_a"),
                  F.max("df_b").alias("df_b"),
                  F.count("*").cast("long").alias("n_both")))
    return (pairs.crossJoin(F.broadcast(nd))
            .select(
                "tok_a", "tok_b", "n_both",
                F.expr("CAST((1000 * CAST(n_both AS DECIMAL(38,0))"
                       " * nd) div (CAST(df_a AS DECIMAL(38,0))"
                       " * df_b) AS BIGINT)").alias("lift_permille"))
            .orderBy(F.desc("lift_permille"), "tok_a", "tok_b")
            .limit(COLOC_TOP))


# ---------------------------------------------------------------------------
# Zipf constancy check
# ---------------------------------------------------------------------------

ZIPF_TOP = 20


@register(
    "q_zipf_check",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ), c AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
        FROM toks WHERE len(tok) > 0 GROUP BY tok
    ), ranked AS (
        SELECT tok, freq,
               ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS rank
        FROM c
    ), top AS (
        SELECT tok, freq, rank, rank * freq AS rf
        FROM ranked WHERE rank <= {ZIPF_TOP}
    ), base AS (SELECT rf AS rf1 FROM top WHERE rank = 1)
    SELECT t.rank, t.tok, t.freq, t.rf,
           (1000 * t.rf) // b.rf1 AS zipf_ratio_permille
    FROM top t CROSS JOIN base b
    ORDER BY t.rank
    """)
def q_zipf_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law constancy check, logarithm-free: under Zipf's law
    freq ∝ 1/rank, so rank·freq is CONSTANT — the report shows
    rank*freq for the top {ZIPF_TOP} tokens as a permille ratio to the
    rank-1 product (≈1000 everywhere = textbook Zipf; a drooping tail
    = truncated vocabulary, synthetic text, or boilerplate). The
    power-law diagnostic every corpus intake runs, reduced to exact
    integer arithmetic instead of a log-log regression.

    Scale: one token scan to a vocabulary-sized aggregate; the global
    rank touches only the top-k (TakeOrderedAndProject shape)."""
    from pyspark.sql import Window
    docs = table(spark, sf_dir, "documents")
    c = (docs.select(F.explode(F.split("text", " ")).alias("tok"))
         .filter(F.length("tok") > 0)
         .groupBy("tok").agg(F.count("*").cast("long").alias("freq")))
    w = Window.orderBy(F.desc("freq"), "tok")
    top = (c.withColumn("rank", F.row_number().over(w).cast("long"))
           .filter(F.col("rank") <= ZIPF_TOP)
           .withColumn("rf", F.expr("rank * freq")))
    base = (top.filter(F.col("rank") == 1)
            .select(F.col("rf").alias("rf1")))
    return (top.crossJoin(F.broadcast(base))
            .select("rank", "tok", "freq", "rf",
                    F.expr("(1000 * rf) div rf1")
                    .alias("zipf_ratio_permille"))
            .orderBy("rank"))


# ---------------------------------------------------------------------------
# BPE merge-table learning (iterative tokenizer induction)
# ---------------------------------------------------------------------------

BPE_ROUNDS = 6


def _bpe_oracle(rounds: int = BPE_ROUNDS) -> str:
    """Unrolled DuckDB twin of the iterative merge loop. Each round:
    count adjacent symbol pairs weighted by word frequency, pick the
    most frequent (ties by pair string), apply the merge with the same
    two-pass padded literal replace the Spark side uses."""
    ctes = [r"""
    words AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS word
              FROM documents)
        WHERE len(word) > 0
        GROUP BY word
    ),
    w0 AS (
        SELECT word, freq,
               '  ' || regexp_replace(word, '(.)', '\1  ', 'g') AS sym
        FROM words
    )"""]
    for r in range(rounds):
        ctes.append(f"""
    t{r} AS (
        SELECT word, freq,
               unnest(string_split(trim(sym), '  ')) AS tok,
               unnest(generate_series(1,
                   len(string_split(trim(sym), '  ')))) AS i
        FROM w{r}
    ),
    pc{r} AS (
        SELECT a.tok || ' ' || b.tok AS pair,
               CAST(SUM(a.freq) AS BIGINT) AS cnt
        FROM t{r} a JOIN t{r} b ON a.word = b.word AND b.i = a.i + 1
        GROUP BY 1
    ),
    best{r} AS (
        SELECT pair, cnt FROM pc{r} ORDER BY cnt DESC, pair LIMIT 1
    ),
    w{r + 1} AS (
        SELECT w.word, w.freq,
               replace(w.sym,
                   ' ' || replace(b.pair, ' ', '  ') || ' ',
                   ' ' || replace(b.pair, ' ', '') || ' ') AS sym
        FROM w{r} w, best{r} b
    )""")
    finals = [f"SELECT {r + 1} AS round,"
              f" replace(pair, ' ', '') AS merged, pair, cnt"
              f" FROM best{r}" for r in range(rounds)]
    return ("WITH " + ",".join(ctes) + "\n"
            + "\nUNION ALL ".join(finals) + "\nORDER BY round")


@register("q_bpe_learn", oracle=_bpe_oracle())
def q_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first BPE_ROUNDS byte-pair-encoding merges from the
    corpus — tokenizer INDUCTION (the training step whose inference
    side q_text_bpe_tokens already prices): start from characters,
    repeatedly count adjacent symbol pairs weighted by word frequency,
    merge the most frequent pair (ties broken by pair string). Merges
    are applied with a single left-to-right literal replace over a
    double-space token encoding (each boundary keeps one visible space
    after a match consumes the inner one), which is EXACTLY canonical
    greedy non-overlapping BPE application — fuzz-pinned against a
    Python reference, byte-identical in both engines.

    Scale: the loop runs on the DISTINCT-word frame (vocabulary-sized,
    ~sqrt of corpus tokens by Heaps' law — at 100 TB the vocab frame is
    still executor-resident), so each round is a vocab-local pair
    explode + one combiner-friendly count + a 1-row broadcast argmax;
    document text is scanned exactly once. Rounds chain declaratively:
    Catalyst sees one plan, AQE sizes every exchange."""
    docs = table(spark, sf_dir, "documents")
    words = (docs.select(F.explode(F.split("text", " ")).alias("word"))
             .filter(F.length("word") > 0)
             .groupBy("word")
             .agg(F.count("*").cast("long").alias("freq")))
    w = words.withColumn(
        "sym", F.concat(F.lit("  "),
                        F.regexp_replace("word", "(.)", "$1  ")))
    # Each round's argmax feeds BOTH the report and the next round's
    # merge, and rounds chain: without truncation the r-th round's
    # lineage re-executes every earlier round (O(R^2) total work). Lazy
    # local checkpoints make the loop linear (measured 2.3x at sf0.1)
    # while keeping plan-construction job-free; blocks are freed by the
    # ContextCleaner when the frames are collected.
    w = w.localCheckpoint(eager=False)
    bests: list[DataFrame] = []
    for r in range(BPE_ROUNDS):
        arr = F.split(F.trim(F.col("sym")), "  ")
        pairs = (w.select("freq", arr.alias("a"))
                 .filter(F.size("a") >= 2)
                 .select("freq", F.explode(F.expr(
                     "transform(sequence(0, size(a) - 2),"
                     " i -> concat(a[i], ' ', a[i + 1]))")).alias("pair")))
        best = (pairs.groupBy("pair")
                .agg(F.sum("freq").cast("long").alias("cnt"))
                .orderBy(F.desc("cnt"), "pair").limit(1))
        best = best.localCheckpoint(eager=False)
        bests.append(best.select(F.lit(r + 1).alias("round"),
                                 F.expr("replace(pair, ' ', '')")
                                 .alias("merged"),
                                 "pair", "cnt"))
        w = (w.crossJoin(F.broadcast(
                best.select(F.col("pair").alias("bp"))))
             .withColumn(
                 "sym",
                 F.expr("replace(sym,"
                        " concat(' ', replace(bp, ' ', '  '), ' '),"
                        " concat(' ', replace(bp, ' ', ''), ' '))"))
             .drop("bp")
             .localCheckpoint(eager=False))
    out = bests[0]
    for b in bests[1:]:
        out = out.unionByName(b)
    return out.orderBy("round")


# ---------------------------------------------------------------------------
# Trained bag-of-words language classifier: token-rate scoring + confusion
# ---------------------------------------------------------------------------

# Fixed-point scale for per-language token rates: nano-units (1e9) keep
# the whole train/score/argmax path in exact integer arithmetic — the
# log-free linear sibling of multinomial Naive Bayes (scores are additive
# per-token language rates instead of log-probabilities, monotone-
# equivalent for ranking languages on this synthetic vocabulary).
CLS_NANO = 1_000_000_000


@register(
    "q_langid_classifier",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
        FROM documents
    ), totals AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS total
        FROM toks GROUP BY lang
    ), rates AS (
        SELECT k.lang AS cand, k.t,
               (CAST(COUNT(*) AS BIGINT) * {CLS_NANO}) // m.total AS r
        FROM toks k JOIN totals m ON m.lang = k.lang
        GROUP BY k.lang, k.t, m.total
    ), scores AS (
        SELECT tk.doc_id, tk.lang, r.cand,
               CAST(SUM(r.r) AS BIGINT) AS score
        FROM toks tk JOIN rates r ON r.t = tk.t
        GROUP BY 1, 2, 3
    ), pred AS (
        SELECT doc_id, lang, cand AS pred_lang FROM (
            SELECT doc_id, lang, cand,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY score DESC, cand) AS rn
            FROM scores)
        WHERE rn = 1
    )
    SELECT lang, pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred
    GROUP BY lang, pred_lang
    ORDER BY lang, pred_lang
    """,
)
def q_langid_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained language-ID classifier with a confusion-matrix census:
    training estimates per-language token rates (integer nano-units of
    count(lang, token)/total(lang) — the log-free linear form of
    multinomial Naive Bayes), scoring sums each document's token rates
    under every candidate language and predicts the argmax (resubstitution
    evaluation on the labeled corpus, ties broken by language name). The
    confusion matrix (true lang x predicted lang) is the filter-quality
    readout a corpus pipeline gates its language routing on.

    Scale: the model is |langs| x |vocab| rates — bounded by the
    vocabulary, broadcast into the scoring join so the corpus-side token
    explode is never reshuffled by model size; scoring is one explode +
    one hash aggregate with map-side partials; everything is exact
    integer arithmetic end-to-end (the argmax needs no division at
    all)."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("t"))
    totals = toks.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("total"))
    rates = (toks.groupBy(F.col("lang").alias("cand"), "t")
             .agg(F.count(F.lit(1)).cast("long").alias("c"))
             .join(F.broadcast(totals.withColumnRenamed("lang", "cand")),
                   "cand")
             .select("cand", "t",
                     F.expr(f"(c * {CLS_NANO}) DIV total").alias("r")))
    scores = (toks.join(F.broadcast(rates), "t")
              .groupBy("doc_id", "lang", "cand")
              .agg(F.sum("r").cast("long").alias("score")))
    pred = (scores.groupBy("doc_id", "lang")
            .agg(F.min_by(
                "cand",
                F.struct((-F.col("score")).alias("neg"), F.col("cand")))
                .alias("pred_lang")))
    return (pred.groupBy("lang", "pred_lang")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
            .orderBy("lang", "pred_lang"))


HOLDOUT_FOLDS = 5  # md5(doc_id) % 5 == 0 -> evaluation fold


@register(
    "q_langid_holdout",
    oracle=f"""
    WITH folded AS (
        SELECT doc_id, lang, text,
               {sql_h64("CAST(doc_id AS VARCHAR)")} % {HOLDOUT_FOLDS} = 0
                   AS is_eval
        FROM documents
    ), toks AS (
        SELECT doc_id, lang, is_eval, unnest(string_split(text, ' ')) AS t
        FROM folded
    ), totals AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS total
        FROM toks WHERE NOT is_eval GROUP BY lang
    ), rates AS (
        SELECT k.lang AS cand, k.t,
               (CAST(COUNT(*) AS BIGINT) * {CLS_NANO}) // m.total AS r
        FROM toks k JOIN totals m ON m.lang = k.lang
        WHERE NOT k.is_eval
        GROUP BY k.lang, k.t, m.total
    ), scores AS (
        SELECT tk.doc_id, tk.lang, r.cand,
               CAST(SUM(r.r) AS BIGINT) AS score
        FROM toks tk JOIN rates r ON r.t = tk.t
        WHERE tk.is_eval
        GROUP BY 1, 2, 3
    ), scored_pred AS (
        SELECT doc_id, lang, cand AS pred_lang FROM (
            SELECT doc_id, lang, cand,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY score DESC, cand) AS rn
            FROM scores)
        WHERE rn = 1
    ), pred AS (
        -- eval docs with ZERO training-vocab overlap score 0 for every
        -- language: argmax degenerates to the tie-break (MIN lang);
        -- dropping them would overstate accuracy on exactly the hardest
        -- docs
        SELECT f.doc_id, f.lang,
               coalesce(sp.pred_lang,
                        (SELECT MIN(lang) FROM totals)) AS pred_lang
        FROM folded f
        LEFT JOIN scored_pred sp ON sp.doc_id = f.doc_id
        WHERE f.is_eval
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_eval_docs,
           CAST(SUM(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(1000 * SUM(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END)
                // COUNT(*) AS BIGINT) AS accuracy_pm
    FROM pred
    GROUP BY lang
    ORDER BY lang
    """,
)
def q_langid_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out evaluation of the token-rate language classifier: a
    deterministic md5 fold split (doc_id hash % {HOLDOUT_FOLDS} == 0 =
    eval) keeps eval documents OUT of training, so the per-language
    accuracy is a generalization measurement — the number that actually
    predicts router quality on new crawl data, vs
    :func:`q_langid_classifier`'s resubstitution confusion matrix
    (which bounds it from above). Same exact integer rate/argmax
    machinery; same hash-split discipline as q_split_by_user.

    Scale: identical shape to the resubstitution query — the fold flag
    folds into the scan, training aggregates skip the eval fold
    map-side, and the scoring explode is eval-fold-sized (1/{HOLDOUT_FOLDS}
    of the corpus)."""
    from columnar_estimator_sample_spark.functions.hashing import h64
    docs = table(spark, sf_dir, "documents")
    folded = docs.select(
        "doc_id", "lang", "text",
        ((h64(F.col("doc_id").cast("string")) % HOLDOUT_FOLDS) == 0)
        .alias("is_eval"))
    toks = folded.select(
        "doc_id", "lang", "is_eval",
        F.explode(F.split("text", " ")).alias("t"))
    train = toks.filter(~F.col("is_eval"))
    totals = train.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("total"))
    rates = (train.groupBy(F.col("lang").alias("cand"), "t")
             .agg(F.count(F.lit(1)).cast("long").alias("c"))
             .join(F.broadcast(totals.withColumnRenamed("lang", "cand")),
                   "cand")
             .select("cand", "t",
                     F.expr(f"(c * {CLS_NANO}) DIV total").alias("r")))
    scores = (toks.filter(F.col("is_eval"))
              .join(F.broadcast(rates), "t")
              .groupBy("doc_id", "lang", "cand")
              .agg(F.sum("r").cast("long").alias("score")))
    scored_pred = (scores.groupBy("doc_id", "lang")
                   .agg(F.min_by(
                       "cand",
                       F.struct((-F.col("score")).alias("neg"),
                                F.col("cand")))
                       .alias("pred_lang")))
    # zero-overlap eval docs score 0 everywhere -> tie-break language;
    # left join keeps them in the accuracy denominator
    fallback = totals.agg(F.min("lang").alias("fb_lang"))
    pred = (folded.filter("is_eval").select("doc_id", "lang")
            .join(scored_pred.select("doc_id", "pred_lang"),
                  "doc_id", "left")
            .crossJoin(F.broadcast(fallback))
            .select("doc_id", "lang",
                    F.coalesce("pred_lang", "fb_lang")
                    .alias("pred_lang")))
    hit = F.when(F.col("pred_lang") == F.col("lang"), 1).otherwise(0)
    return (pred.groupBy("lang")
            .agg(F.count(F.lit(1)).cast("long").alias("n_eval_docs"),
                 F.sum(hit).cast("long").alias("n_correct"))
            .select("lang", "n_eval_docs", "n_correct",
                    F.expr("CAST(1000 * n_correct DIV n_eval_docs"
                           " AS BIGINT)").alias("accuracy_pm"))
            .orderBy("lang"))
