"""Streaming corpus ingestion: the batch corpus-prep funnel
(operators/pipeline.q_corpus_prep_pipeline) as a Structured Streaming
pipeline — documents arrive as files, pass the quality gate, are
exact-deduplicated against everything seen so far, and feed a running
per-language admission ledger.

This is the online half of the incremental-ingest story
(operators/dedup.q_dedup_incremental is the batch-vs-corpus sketch
check): a crawl drop lands in object storage, the file source picks it
up, and the ledger advances without rescanning history.

State sizing at 100 TB: the dedup state holds one md5 digest per
admitted document (16 bytes + key overhead; ~10⁹ docs ≈ tens of GB
across the cluster — the standard budget for streaming exact dedup). A
production deployment ages digests out with a watermark on ingest time;
the documents fixture carries no timestamp, so the test drains with
availableNow and bounded state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from columnar_estimator_sample_spark.operators.corpus import (
    _CASCADE_VERDICT,
)
from columnar_estimator_sample_spark.operators.dedup import (
    _minhash_band_ctes,
)
from columnar_estimator_sample_spark.operators.pipeline import (
    MIN_STOP_DEN, MIN_STOP_NUM, MIN_TOKENS, STOPWORDS,
)
from columnar_estimator_sample_spark.operators.similarity import (
    IVF_INC_ORACLE,
)
from columnar_estimator_sample_spark.operators.textstats import _DOC_LM_SQL
from columnar_estimator_sample_spark.registry import register


# Micro-batch granularity for the REGISTERED drains: the
# measured knee on the 100x mirror (cascade drain: 148 s at 1
# file/trigger vs 15.5 s at 32 — per-trigger overhead dominates below
# it, no further gain above it). Gate corpora are single-file, so the
# default is behavior-identical there; tests that pin the partial-sum
# path pass their own one-file-per-trigger source.
STREAM_FILES_PER_TRIGGER = 32


def _gated(docs: DataFrame) -> DataFrame:
    toks = F.split("text", " ")
    sw = F.array([F.lit(s) for s in STOPWORDS])
    stop_hits = (F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
                 .cast("long"))
    return (docs
            .withColumn("n_tokens", F.size(toks))
            .withColumn("stop_hits", stop_hits)
            .filter((F.col("n_tokens") >= MIN_TOKENS)
                    & (MIN_STOP_DEN * F.col("stop_hits")
                       > MIN_STOP_NUM * F.col("n_tokens"))))


def corpus_ingest_stream(docs: DataFrame) -> DataFrame:
    """Quality gate -> streaming exact dedup -> per-language running
    admission counts (complete-mode aggregation); the same function runs
    on a static frame as its batch twin. The dedup key is (digest,
    lang): every non-key output column is a function of the key, so
    WHICH physical row survives is immaterial and stream/batch results
    match regardless of arrival order."""
    admitted = (_gated(docs)
                .withColumn("digest", F.md5("text"))
                .dropDuplicates(["digest", "lang"]))
    return (admitted.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_admitted"),
                 F.sum("n_tokens").alias("admitted_tokens")))


# ---------------------------------------------------------------------------
# Streaming quality cascade: the r11 first-failing-gate attribution
# funnel (operators/corpus.q_quality_cascade) as an online admission
# ledger — structural gates fold into each micro-batch's scan, the
# model gate scores arriving text against the STATIC corpus-trained
# bigram LM (the written-model discipline: train offline, broadcast
# into the scoring join), and per-batch (lang, verdict) partials sum to
# the exact batch census because every document lands in exactly one
# micro-batch and its verdict depends only on its own content + the
# static model.
# ---------------------------------------------------------------------------


def cascade_signals(docs: DataFrame, model: DataFrame) -> DataFrame:
    """(doc_id, lang, n_toks, verdict) for a (micro-)batch of documents
    against a static bigram LM ``model`` — the EXACT batch-cascade
    signal chain (operators/corpus._CASCADE_VERDICT over n_toks /
    ttr_pm / lm_pm with the -1 no-score sentinel), factored so stream
    and batch share one definition."""
    from columnar_estimator_sample_spark.operators.corpus import (
        _CASCADE_VERDICT,
    )
    from columnar_estimator_sample_spark.operators.textstats import (
        lm_score_frame,
    )
    toks = F.split("text", " ")
    base = docs.select(
        "doc_id", "lang",
        F.size(toks).alias("n_toks"),
        F.expr("(1000 * size(array_distinct(split(text, ' '))))"
               " DIV size(split(text, ' '))").alias("ttr_pm"))
    scored = lm_score_frame(docs, model).select(
        "doc_id", "lm_score_permille")
    return (base.join(scored, "doc_id", "left")
            .withColumn("lm_pm",
                        F.coalesce("lm_score_permille", F.lit(-1)))
            .select("doc_id", "lang", "n_toks",
                    F.expr(_CASCADE_VERDICT).alias("verdict")))


def quality_cascade_stream(spark: SparkSession, sf_dir: str,
                           docs_stream: DataFrame | None = None
                           ) -> DataFrame:
    """Drain the documents file stream through the cascade and return
    the landed (lang, verdict) admission ledger as a local frame.
    ``docs_stream`` overrides the source (tests drive a multi-file
    directory through one-file micro-batches to pin the partial-sum
    path); the default source drains :data:`STREAM_FILES_PER_TRIGGER`
    files per micro-batch — the ledger is granularity-invariant because
    each doc lands in exactly one epoch and partials sum exactly; the LM
    model always trains on ``sf_dir``'s static corpus.

    Shape: the per-doc LM score needs its own keyed aggregation, and a
    second (lang, verdict) aggregation on top is more chained stateful
    operators than a watermark-less stream supports — so each
    micro-batch is scored with the BATCH signal chain inside
    ``foreachBatch`` (model broadcast, one explode + two keyed aggs per
    batch) and only the (lang, verdict, count, tokens) PARTIALS leave
    the batch; the ledger is their exact integer sum. This is the
    production shape too: foreachBatch into an idempotent upsert of the
    admission-ledger table."""
    from collections import defaultdict

    from columnar_estimator_sample_spark.operators.textstats import (
        bigram_lm_model,
    )
    from columnar_estimator_sample_spark.sources.tables import table_stream
    from columnar_estimator_sample_spark.streaming.windows import drain

    model = bigram_lm_model(spark, sf_dir)
    # keyed by epoch id, not appended: a streaming retry re-runs the
    # failed epoch, and keying makes the replay OVERWRITE its partials
    # instead of double-counting them — the same exactly-once
    # discipline as the ANN ingest's epoch-partitioned sink. Idempotency
    # here is IN-RUN only, and the checkpoint is deliberately fresh per
    # invocation: the partials live on the driver, so resuming a prior
    # run's checkpoint would skip its committed batches whose partials
    # died with it (unlike ann_ingest_stream, whose sink is a persisted
    # table and therefore DOES keep its checkpoint across retries)
    partials: dict = {}

    def score_batch(bdf: DataFrame, epoch_id: int) -> None:
        rows = (cascade_signals(bdf, model)
                .groupBy("lang", "verdict")
                .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                     F.sum("n_toks").cast("long").alias("n_tokens"))
                .collect())
        partials[int(epoch_id)] = rows

    src = (table_stream(spark, sf_dir, "documents",
                        STREAM_FILES_PER_TRIGGER)
           if docs_stream is None else docs_stream)
    drain(src.writeStream.foreachBatch(score_batch))
    acc: dict = defaultdict(lambda: [0, 0])
    for rows in partials.values():
        for r in rows:
            a = acc[(r["lang"], r["verdict"])]
            a[0] += r["n_docs"]
            a[1] += r["n_tokens"]
    out = [(lg, v, n, t) for (lg, v), (n, t) in sorted(acc.items())]
    return spark.createDataFrame(
        out, "lang string, verdict string, n_docs long, n_tokens long")


@register(
    "q_stream_quality_cascade",
    oracle=f"""
    WITH {_DOC_LM_SQL},
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
    """,
)
def q_stream_quality_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streamed admission ledger of :func:`quality_cascade_stream`,
    certified against the batch cascade's oracle."""
    return (quality_cascade_stream(spark, sf_dir)
            .orderBy("lang", "verdict"))


# ---------------------------------------------------------------------------
# Streaming ANN ingestion: q_ann_ivf_incremental's maintenance step
# driven by a FILE STREAM — embedding arrivals are coarse-assigned
# against the existing centroids inside each micro-batch and appended
# to the maintained bucketed inverted file (FAISS add() as a streaming
# sink). Batch and stream faces converge to the identical index, so
# they certify against the same oracle.
# ---------------------------------------------------------------------------


def ann_ingest_stream(spark: SparkSession, sf_dir: str,
                      arrivals: DataFrame | None = None) -> DataFrame:
    """Maintained IVF inverted file fed by a stream: the base corpus's
    assignment is written once (the warm index), then each micro-batch
    of arriving vectors (vec_id >= the batch threshold — the same
    simulated arrival set as the batch face) is coarse-assigned against
    the EXISTING centroid frames inside ``foreachBatch`` — an
    O(|micro-batch| * NLIST) broadcast join — and appended into the
    bucketed layout. Returns the maintained table handle
    (vec_id, centroid_id, phase).

    ``arrivals`` overrides the source stream (tests drive multi-file
    arrival directories through one-file micro-batches). EXACTLY-ONCE:
    the table is hive-partitioned by ingest epoch (base rows land as
    epoch=-1) and each micro-batch writes its epoch partition with
    DYNAMIC partition overwrite, so a replayed epoch — availableNow
    restarting after a mid-drain failure re-runs the last epoch —
    overwrites its own rows instead of duplicating them (the
    q_stream_landing_census idempotent-sink pattern; replay is
    test-pinned). The checkpoint lives at a DETERMINISTIC
    per-(session, sf_dir) path and is deleted only after the drain
    terminates cleanly, so a failed drain's re-invocation RESUMES it —
    availableNow skips the committed epochs (their partitions are
    already landed) and re-runs only the uncommitted one; the base
    index build is likewise skipped when the table already exists from
    the failed attempt. Without that, recovery was reachable only for
    in-run batch retries (the round-12 advisory). Bucketing by
    centroid_id within partitions keeps the census/probe plans
    exchange-free (the corpus-export layout). The drained handle is
    memoized per (session, sf_dir) post-drain, so a re-invocation reads
    the table instead of re-appending arrivals."""
    from columnar_estimator_sample_spark.operators.partitioning import (
        bucketed_ctas,
    )
    from columnar_estimator_sample_spark.operators.similarity import (
        _exploded, _inc_coarse_assign, inc_batch_threshold, ivf_nlist_for,
    )
    from columnar_estimator_sample_spark.sources.tables import (
        memo, table, table_stream, table_tag,
    )

    def build() -> DataFrame:
        nlist = ivf_nlist_for(spark, sf_dir)
        thr = inc_batch_threshold(sf_dir)
        ex = _exploded(table(spark, sf_dir, "embeddings"))
        cex = (ex.filter(F.col("vec_id") < nlist)
               .select(F.col("vec_id").alias("centroid_id"), "i",
                       F.col("vi").alias("ci")))
        cnorms = (cex.groupBy("centroid_id")
                  .agg(F.sum(F.col("ci") * F.col("ci")).alias("nc_s"))
                  .localCheckpoint(eager=False))
        tag = table_tag(spark, sf_dir)
        name = f"ivf_ings_{tag}"
        # skip the base build when a FAILED prior drain in this session
        # already landed it — rebuilding with overwrite would wipe the
        # committed epochs the resumed checkpoint will not replay
        if not spark.catalog.tableExists(name):
            bucketed_ctas(
                spark, name,
                _inc_coarse_assign(ex.filter(F.col("vec_id") < thr), cex,
                                   cnorms, "base")
                .withColumn("epoch", F.lit(-1).cast("long")),
                "centroid_id", n_buckets=nlist, partition_by="epoch")

        def ingest_batch(bdf: DataFrame, epoch_id: int) -> None:
            batch = bdf.filter(F.col("vec_id") >= thr)
            _ingest_epoch(_inc_coarse_assign(_exploded(batch), cex, cnorms,
                                             "batch"), name, epoch_id)

        src = (table_stream(spark, sf_dir, "embeddings",
                            STREAM_FILES_PER_TRIGGER)
               if arrivals is None else arrivals)
        _epoch_drain(spark, src, ingest_batch, f"ckpt_ann_ingest_{tag}",
                     name)
        return spark.table(name).select("vec_id", "centroid_id", "phase")
    return memo(spark, ("ann_ingest", sf_dir), build)


def _epoch_drain(spark: SparkSession, src: DataFrame, ingest_batch,
                 ckpt_name: str, table_name: str) -> None:
    """The shared exactly-once maintained-index drain (ann + neardup
    ingest): :func:`windows.drain` ``src`` through
    ``foreachBatch(ingest_batch)`` with

    * a DETERMINISTIC per-(session, corpus) checkpoint (``ckpt_name``):
      a failed drain leaves it in place so the next invocation RESUMES
      (committed epochs skipped, the uncommitted epoch re-run against
      its own dynamically-overwritten partition — the table carries
      ``partitionOverwriteMode=dynamic``, see
      operators/partitioning.bucketed_ctas); removed only after clean
      termination. register_tempdir still sweeps it at interpreter exit
      if the session dies without ever succeeding;
    * a final ``refreshTable``: foreachBatch runs in a CLONED session,
      so its insertInto lands on disk but does NOT invalidate the
      parent session's cached file index — without the refresh the
      census silently reads the pre-append listing (caught in r12 by
      the differential gate: n_batch=0 while the files were on disk).
    """
    import os
    import shutil
    import tempfile

    from columnar_estimator_sample_spark.sources.tables import (
        register_tempdir,
    )
    from columnar_estimator_sample_spark.streaming.windows import drain
    ckpt = register_tempdir(os.path.join(tempfile.gettempdir(),
                                         ckpt_name))
    drain(src.writeStream.foreachBatch(ingest_batch), ckpt)
    shutil.rmtree(ckpt, ignore_errors=True)
    spark.catalog.refreshTable(table_name)


def _ingest_epoch(assign: DataFrame, name: str, epoch_id: int) -> None:
    """Land one epoch's assignment rows idempotently: the epoch column
    is the hive partition, written with DYNAMIC overwrite — replaying
    the epoch (streaming retry) overwrites its own partition instead of
    appending duplicates. insertInto matches columns by POSITION and
    the partition column must come last."""
    (assign.withColumn("epoch", F.lit(int(epoch_id)).cast("long"))
     .write.mode("overwrite").insertInto(name))


@register("q_stream_ann_ingest", oracle=IVF_INC_ORACLE)
def q_stream_ann_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Census of the STREAM-maintained inverted file — same columns,
    same oracle as q_ann_ivf_incremental: the two maintenance faces
    must converge to the identical index."""
    idx = ann_ingest_stream(spark, sf_dir)
    is_batch = (F.col("phase") == "batch").cast("int")
    return (idx.groupBy("centroid_id")
            .agg(F.sum(1 - is_batch).cast("long").alias("n_base"),
                 F.sum(is_batch).cast("long").alias("n_batch"),
                 F.count(F.lit(1)).cast("long").alias("n_total"))
            .orderBy("centroid_id"))


# ---------------------------------------------------------------------------
# Streaming near-dup (MinHash-LSH) band-index ingestion: the LSH band
# table — the candidate-generation structure every near-dup pass joins
# on — maintained by a FILE STREAM. Banding is per-document independent
# given the fixed hash family, so arrivals banded inside each
# micro-batch converge to the identical band index a batch pass over
# the full corpus builds, and the census certifies against the batch
# restatement (the q_stream_ann_ingest discipline applied to the dedup
# tier; reference anchor: the append-only event log, README.md:93,107).
# ---------------------------------------------------------------------------

# Arriving-document batch size (the highest doc_ids simulate the crawl
# drop, the same fixed-size-arrival convention as similarity.IVF_INC_BATCH).
NEARDUP_INC_BATCH = 200


def neardup_batch_threshold(sf_dir: str) -> int:
    """First doc_id of the simulated arrival batch (footer metadata
    read, never a job)."""
    import os
    from columnar_estimator_sample_spark.sources.tables import (
        parquet_col_max,
    )
    return (parquet_col_max(os.path.join(sf_dir, "documents.parquet"),
                            "doc_id") - (NEARDUP_INC_BATCH - 1))


def neardup_ingest_stream(spark: SparkSession, sf_dir: str,
                          arrivals: DataFrame | None = None) -> DataFrame:
    """Maintained MinHash-LSH band index fed by a stream: the base
    corpus's bands (doc_id < the batch threshold) are written once as a
    band_key-bucketed table; each micro-batch of arriving documents is
    banded inside ``foreachBatch`` — shingle→minhash→band is one
    O(|batch| · k) pass, corpus-size-independent — and appended into
    the bucketed layout. Returns the maintained table handle
    (doc_id, band, band_key, phase).

    EXACTLY-ONCE and RECOVERY are the ann_ingest_stream contract
    verbatim: epoch-partitioned dynamic-overwrite landing (a replayed
    epoch overwrites its own partition), deterministic per-(session,
    sf_dir) checkpoint deleted only on clean termination (a failed
    drain's re-invocation resumes, committed epochs skipped), and the
    base build skipped when the table survives a failed attempt.

    At 100 TB: the band index IS the structure a production near-dup
    service maintains — candidate generation joins new bands against
    this table on (band, band_key) with no rescan of history; bucketing
    by band_key keeps that join and the bucket census exchange-free.
    The drained handle is memoized per (session, sf_dir) post-drain."""
    from columnar_estimator_sample_spark.operators.dedup import (
        LSH_BANDS, minhash_bands,
    )
    from columnar_estimator_sample_spark.operators.partitioning import (
        bucketed_ctas,
    )
    from columnar_estimator_sample_spark.sources.tables import (
        memo, table, table_stream, table_tag,
    )

    def build() -> DataFrame:
        thr = neardup_batch_threshold(sf_dir)
        docs = table(spark, sf_dir, "documents").select("doc_id", "text")
        tag = table_tag(spark, sf_dir)
        name = f"lsh_ings_{tag}"
        if not spark.catalog.tableExists(name):
            bucketed_ctas(
                spark, name,
                minhash_bands(docs.filter(F.col("doc_id") < thr))
                .withColumn("band", F.col("band").cast("long"))
                .withColumn("phase", F.lit("base"))
                .withColumn("epoch", F.lit(-1).cast("long")),
                "band_key", n_buckets=2 * LSH_BANDS, partition_by="epoch")

        def ingest_batch(bdf: DataFrame, epoch_id: int) -> None:
            batch = (bdf.filter(F.col("doc_id") >= thr)
                     .select("doc_id", "text"))
            _ingest_epoch(
                minhash_bands(batch)
                .withColumn("band", F.col("band").cast("long"))
                .withColumn("phase", F.lit("batch")),
                name, epoch_id)

        src = (table_stream(spark, sf_dir, "documents",
                            STREAM_FILES_PER_TRIGGER)
               if arrivals is None else arrivals)
        _epoch_drain(spark, src, ingest_batch, f"ckpt_neardup_ingest_{tag}",
                     name)
        return spark.table(name).select("doc_id", "band", "band_key",
                                        "phase")
    return memo(spark, ("neardup_ingest", sf_dir), build)


@register(
    "q_stream_neardup_ingest",
    oracle=f"""
    WITH {_minhash_band_ctes()},
    bc AS (
        SELECT band, band_key, CAST(COUNT(*) AS BIGINT) AS c
        FROM bands GROUP BY band, band_key
    )
    SELECT band,
           CAST(SUM(c) AS BIGINT) AS n_entries,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS n_cand_pairs
    FROM bc
    GROUP BY band
    ORDER BY band
    """,
)
def q_stream_neardup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Census of the STREAM-maintained LSH band index — per band:
    entries, distinct band keys, and the LSH candidate-pair count
    (Σ c·(c−1)/2 over band-key buckets, the number the batch minhash
    join would generate). The oracle restates the banding over the FULL
    corpus, so the green row proves the streamed index equals the batch
    build bit-for-bit (band keys are md5 of the signature slice — any
    divergence flips the hash)."""
    idx = neardup_ingest_stream(spark, sf_dir)
    bc = (idx.groupBy("band", "band_key")
          .agg(F.count(F.lit(1)).cast("long").alias("c")))
    return (bc.groupBy("band")
            .agg(F.sum("c").cast("long").alias("n_entries"),
                 F.count(F.lit(1)).cast("long").alias("n_keys"),
                 F.sum(F.expr("c * (c - 1) DIV 2")).cast("long")
                 .alias("n_cand_pairs"))
            .orderBy("band"))
