"""Corpus-prep operator tests: two-phase cumsum equivalence + the
scale-shape claims of the packing/sampling/contamination plans."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from columnar_estimator_sample_spark.operators.corpus import (
    two_phase_cumsum,
)
from columnar_estimator_sample_spark.registry import queries

from test_plans import SF, n_shuffles, plan_of


def test_two_phase_cumsum_matches_global_window(spark):
    """The scalable prefix sum must equal the naive single-task global
    window on an adversarial frame (dup values, skewed gaps)."""
    rows = [(i, (i * 7919) % 13) for i in range(1, 1001)]
    df = spark.createDataFrame(rows, "k long, v long").repartition(11)
    got = {r["k"]: r["c"] for r in
           two_phase_cumsum(df, "k", "v", "c", n_parts=7).collect()}
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    want = {r["k"]: r["c"] for r in
            df.withColumn("c", F.sum("v").over(w)).collect()}
    assert got == want


def test_two_phase_cumsum_single_partition_frame(spark):
    """Degenerate case: fewer rows than partitions."""
    df = spark.createDataFrame([(1, 10), (2, 5)], "k long, v long")
    got = sorted((r["k"], r["c"]) for r in
                 two_phase_cumsum(df, "k", "v", "c", n_parts=8).collect())
    assert got == [(1, 10), (2, 15)]


class TestCorpusPlanShapes:
    def test_pack_chunks_no_global_window_over_data(self, spark):
        """The doc-level window must be partitioned (by __pid); the only
        unpartitioned window runs on the n_parts-row offset frame, which
        reaches it through a hash aggregate, never a raw scan."""
        plan = plan_of(spark, "q_pack_chunks")
        # Every SinglePartition exchange must feed from the tiny
        # per-partition aggregate (post-HashAggregate), not the documents
        # scan: its input side carries __pid_total.
        for seg in plan.split("Exchange SinglePartition")[1:]:
            head = seg[:400]
            assert "__pid_total" in head or "HashAggregate" in head, plan

    def test_contamination_broadcasts_eval_side(self, spark):
        plan = plan_of(spark, "q_contamination_check")
        assert "BroadcastExchange" in plan
        assert "TakeOrderedAndProject" in plan
        # r6 contraction shape: the raw corpus is exchanged exactly once
        # (the md5-census fingerprint window); every other exchange runs
        # on representative/aggregate frames. The single-partition
        # exchange is the rep-pair cutoff window (content-bounded), and
        # the exploded train n-grams still reach the eval join through a
        # broadcast, never a repartition.
        assert plan.count("Exchange SinglePartition") <= 1, plan
        assert "CartesianProduct" not in plan
        import re
        fp_exchanges = [
            seg for seg in re.findall(r"Exchange hashpartitioning\(([^)]*)", plan)
            if "fp" in seg]
        assert fp_exchanges, plan  # the census window is present

    def test_stratified_sampling_is_scan_plus_one_exchange(self, spark):
        plan = plan_of(spark, "q_sample_stratified")
        assert n_shuffles(plan) <= 2, plan  # lang agg + global sort

    def test_pii_redaction_stays_codegen(self, spark):
        plan = plan_of(spark, "q_pii_redaction")
        assert plan.count("*(") >= 1  # codegen'd stages carry "*(n)"
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


def test_contamination_contraction_equals_naive_on_duplicated_corpus(
        spark, tmp_path):
    """The r6 exact-dup contraction must reproduce the naive member-level
    join EXACTLY on a corpus with duplicate groups that straddle the
    eval/train split (doc_id % 50) — the subtle case where one content
    group contributes members to BOTH sides — including the top-20
    cutoff's tie behavior. Brute force is the pre-r6 formulation."""
    from columnar_estimator_sample_spark.operators.corpus import (
        _word3_expr,
    )

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    other = ("one two three four five six seven eight nine ten eleven "
             "twelve alpha beta gamma delta epsilon zeta")
    rows = []
    # group A: eval member (id 0, 0%50==0) + train twins (3, 7, 103)
    for i in [0, 3, 7, 103]:
        rows.append((i, base))
    # group B: eval-only duplicates (50, 100) sharing a prefix with A
    for i in [50, 100]:
        rows.append((i, other))
    # group C: train-only near content (unique docs)
    rows += [(11, base.replace("kappa", "KAPPA")),
             (12, other.replace("ten", "TEN")),
             (13, "totally disjoint words with no trigram overlap here")]
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(
        str(tmp_path / "documents.parquet"))
    sf = str(tmp_path)

    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))
    grams = docs.select(
        "doc_id", F.split("text", " ").alias("toks")).select(
        "doc_id", F.explode(_word3_expr("toks")).alias("ngram"))
    ev = (grams.filter(F.col("doc_id") % 50 == 0)
          .withColumnRenamed("doc_id", "eval_doc"))
    tr = (grams.filter(F.col("doc_id") % 50 != 0)
          .withColumnRenamed("doc_id", "train_doc"))
    naive = (tr.join(ev, "ngram")
             .groupBy("train_doc", "eval_doc")
             .agg(F.count("*").alias("n_shared"))
             .filter(F.col("n_shared") >= 3)
             .orderBy(F.desc("n_shared"), "train_doc", "eval_doc")
             .limit(20))
    want = [tuple(r) for r in naive.collect()]
    got = [tuple(r) for r in
           queries()["q_contamination_check"](spark, sf).collect()]
    assert got == want
    # the corpus must actually exercise the cross-class group (A) and
    # produce enough pairs that the cutoff logic runs
    assert any(e == 0 and t in (3, 7, 103) for t, e, _ in want)
    assert len(want) >= 5


def test_split_by_user_no_leakage(spark):
    """The defining property: no user appears on both sides."""
    from columnar_estimator_sample_spark.functions.hashing import h64
    from columnar_estimator_sample_spark.sources.tables import events_table
    ev = events_table(spark, SF)
    h = h64(F.concat(F.lit("split|"), F.col("user_id").cast("string")))
    per_user = (ev.select("user_id",
                          F.pmod(h, F.lit(100)).alias("b"))
                .groupBy("user_id")
                .agg(F.countDistinct((F.col("b") < 80).cast("int"))
                     .alias("n_sides")))
    assert per_user.filter(F.col("n_sides") > 1).count() == 0
    # and both sides are populated
    q = queries()["q_split_by_user"](spark, SF)
    assert {r["split"] for r in q.collect()} == {"train", "heldout"}


def test_seqlen_histogram_cum_frac_reaches_one(spark):
    rows = queries()["q_seqlen_histogram"](spark, SF).collect()
    assert abs(rows[-1]["cum_frac"] - 1.0) < 1e-12
    assert rows[-1]["cum_docs"] == sum(r["n_docs"] for r in rows)


def test_pack_chunks_covers_all_docs(spark):
    """Chunk doc counts must partition the corpus: every doc lands in
    exactly one chunk and chunk id ranges are contiguous from 0."""
    df = queries()["q_pack_chunks"](spark, SF)
    rows = df.collect()
    total = sum(r["n_docs"] for r in rows)
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert total == n_docs
    ids = [r["chunk_id"] for r in rows]
    assert ids[0] == 0 and ids == sorted(ids)


class TestRound2PlanShapes:
    def test_source_mixture_broadcasts_weights(self, spark):
        plan = plan_of(spark, "q_source_mixture")
        assert "BroadcastExchange" in plan
        # the docs side explodes without repartitioning first
        assert "BatchEvalPython" not in plan

    def test_token_bigrams_topk(self, spark):
        plan = plan_of(spark, "q_token_bigrams")
        assert "TakeOrderedAndProject" in plan
        assert n_shuffles(plan) <= 1, plan  # one gram-keyed aggregate

    def test_substring_hotspots_topk(self, spark):
        plan = plan_of(spark, "q_substring_hotspots")
        assert "TakeOrderedAndProject" in plan

    def test_incremental_dedup_no_corpus_self_join(self, spark):
        """Candidate generation joins batch bands against corpus bands;
        there must be exactly one pair-producing join of band tables and
        it must be batch-vs-corpus (predicate filters, not doc_id<doc_id
        self-pairing)."""
        import re
        plan = plan_of(spark, "q_dedup_incremental")
        # the offline pair query HAS this predicate; incremental must not
        assert not re.search(r"doc_id#\d+L? < doc_id#\d+", plan), plan
        offline = plan_of(spark, "q_dedup_minhash_lsh")
        assert re.search(r"doc_id#\d+L? < doc_id#\d+", offline)


class TestQualityAndQuantization:
    """Round-2b additions: repetition filters, vocab coverage, blocked
    edit-distance dedup, int8 scalar quantization."""

    def test_repetition_ratios_bounds_and_coverage(self, spark):
        df = queries()["q_repetition_ratios"](spark, SF)
        rows = df.collect()
        n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
        assert len(rows) == n_docs
        for r in rows[:50]:
            assert 0.0 < r["top_token_frac"] <= 1.0
            assert 0.0 <= r["dup_bigram_frac"] <= 1.0
        # stays fully JVM-side
        plan = plan_of(spark, "q_repetition_ratios")
        assert "BatchEvalPython" not in plan

    def test_vocab_coverage_broadcast_and_conservation(self, spark):
        plan = plan_of(spark, "q_vocab_coverage")
        # the induced vocab must come back as a broadcast, never a
        # shuffled join against the token stream
        assert "BroadcastExchange" in plan
        rows = queries()["q_vocab_coverage"](spark, SF).collect()
        total = sum(r["total_tokens"] for r in rows)
        corpus_tokens = (
            spark.read.parquet(f"{SF}/documents.parquet")
            .select(F.size(F.split("text", " ")).alias("n"))
            .agg(F.sum("n")).collect()[0][0])
        assert total == corpus_tokens
        for r in rows:
            assert 0 <= r["oov_tokens"] <= r["total_tokens"]
            assert 0 <= r["oov_permille"] <= 1000

    def test_editdistance_blocked_not_cartesian(self, spark):
        plan = plan_of(spark, "q_dedup_editdistance")
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan
        # candidate pairs well under n^2/2: blocking must be effective
        from columnar_estimator_sample_spark.operators.dedup import (
            ED_MAX_DIST)
        rows = queries()["q_dedup_editdistance"](spark, SF).collect()
        n = spark.read.parquet(f"{SF}/documents.parquet").count()
        assert len(rows) < n * (n - 1) / 20
        for r in rows:
            assert r["doc_a"] < r["doc_b"]
            assert 0 <= r["edit_dist"] <= ED_MAX_DIST

    def test_embed_quantize_code_range_and_error_bound(self, spark):
        rows = queries()["q_embed_quantize"](spark, SF).collect()
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        dim = emb.select(F.max(F.size("embedding"))).collect()[0][0]
        assert len(rows) == dim
        for r in rows:
            rng = r["max_vi"] - r["min_vi"]
            # min/max calibration pins the code endpoints
            assert r["min_code"] == 0 and r["max_code"] == 255
            # round-half-up error is at most half a quantization step
            # (err255 is measured in 1/255-of-range units)
            assert r["max_abs_err255"] <= rng / 2 + 1
            assert r["n"] == emb.count()
        plan = plan_of(spark, "q_embed_quantize")
        assert "BatchEvalPython" not in plan
        assert "BroadcastExchange" in plan  # dim calibration broadcast


class TestABCParts:
    def test_pareto_structure(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.corpus import (
            q_abc_parts)
        from columnar_estimator_sample_spark.sources.tables import table
        import pyspark.sql.functions as F
        rows = {r.abc_class: r for r in q_abc_parts(spark, sf_dir).collect()}
        n_parts = (table(spark, sf_dir, "lineitem")
                   .select("l_partkey").distinct().count())
        assert sum(r.n_parts for r in rows.values()) == n_parts
        shares = sum(r.revenue_share_permille for r in rows.values())
        assert 1000 - len(rows) <= shares <= 1000
        if "A" in rows and "C" in rows:
            # Pareto: A's per-part revenue dwarfs C's
            a, c = rows["A"], rows["C"]
            assert (a.revenue_cents * c.n_parts
                    > c.revenue_cents * a.n_parts)


class TestNegativeSampling:
    def test_candidates_deterministic_and_bounded(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.corpus import (
            NEG_PER_POS, q_negative_sampling)
        from columnar_estimator_sample_spark.sources.tables import table
        rows = q_negative_sampling(spark, sf_dir).collect()
        assert len(rows) == NEG_PER_POS
        n_users = (table(spark, sf_dir, "orders")
                   .select("o_custkey").distinct().count())
        for r in rows:
            assert r.n_candidates == n_users
            assert 0 <= r.n_collisions <= r.n_candidates
            assert 0 <= r.collision_permille <= 1000
        # determinism: a second run returns identical collision counts
        again = q_negative_sampling(spark, sf_dir).collect()
        assert [r.n_collisions for r in rows] == \
            [r.n_collisions for r in again]


class TestSRMCheck:
    def test_allocation_near_nominal_and_consistent_with_split(
            self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.corpus import (
            q_split_by_user, q_srm_check)
        rows = {r.split: r for r in q_srm_check(spark, sf_dir).collect()}
        assert set(rows) == {"train", "heldout"}
        total = sum(r.n for r in rows.values())
        for r in rows.values():
            assert 0 <= r.deviation_permille <= 100  # hash split is fair
            assert abs(r.n - r.expected_n) <= total  # sanity
        # user counts agree with the registered split query
        split_rows = {r.split: r.n_users
                      for r in q_split_by_user(spark, sf_dir).collect()}
        assert split_rows == {s: r.n for s, r in rows.items()}


class TestDsirSelection:
    def test_python_replay(self, spark, sf_dir):
        """Brute-force Python replay of the DSIR pipeline (hashed unigram
        buckets, add-one smoothed two-step floor-divided probabilities,
        mean-ratio doc scores, top-K by (score DESC, doc_id), per-lang
        census) — must match the query exactly."""
        import hashlib
        from collections import Counter, defaultdict

        from columnar_estimator_sample_spark.operators.corpus import (
            DSIR_B, DSIR_K, DSIR_PS, DSIR_RS, q_dsir_selection,
        )
        from columnar_estimator_sample_spark.sources.tables import table

        got = {r.lang: (r.n_selected, r.mean_score_ppm)
               for r in q_dsir_selection(spark, sf_dir).collect()}

        docs = table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "text").collect()

        def h64(s: str) -> int:
            return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

        cs, ct = Counter(), Counter()
        doc_buckets = {}
        for r in docs:
            bs = [h64(w) % DSIR_B for w in r.text.split(" ")]
            doc_buckets[r.doc_id] = bs
            for b in bs:
                cs[b] += 1
                if r.lang == "en":
                    ct[b] += 1
        ns, nt = sum(cs.values()), sum(ct.values())
        ratio = {b: ((ct[b] + 1) * DSIR_PS // (nt + DSIR_B)) * DSIR_RS
                 // max((cs[b] + 1) * DSIR_PS // (ns + DSIR_B), 1)
                 for b in cs}
        scores = {d: sum(ratio[b] for b in bs) // len(bs)
                  for d, bs in doc_buckets.items()}
        lang_of = {r.doc_id: r.lang for r in docs}
        sel = sorted(scores, key=lambda d: (-scores[d], d))[:DSIR_K]
        per_lang = defaultdict(list)
        for d in sel:
            per_lang[lang_of[d]].append(scores[d])
        want = {lg: (len(v), sum(v) // len(v)) for lg, v in per_lang.items()}
        assert got == want
        assert sum(v[0] for v in got.values()) == DSIR_K


class TestMixtureApplySkew:
    def test_ppm_rates_express_both_tails(self, spark, tmp_path):
        """On a 1000:1 skewed corpus the permille rate chain both
        zeroed the tiny source's boost AND could not express the heavy
        source's sub-1/1000 downsample — the ppm chain must give the
        tiny source full admission (it is the most boosted) and the
        heavy source a small but NON-ZERO rate, with every count
        matching a Python replay of the identical integer chain."""
        import hashlib
        import duckdb
        from columnar_estimator_sample_spark.operators.corpus import (
            q_mixture_apply,
        )

        rows = []
        for i in range(1000):
            rows.append(f"(CAST({i} AS BIGINT), 'w1 w2 w3 w4 w5 w6 w7 "
                        f"w8 w9 w10', 'aa', 'big', CAST(29 AS BIGINT))")
        rows.append("(CAST(5000 AS BIGINT), 'w1 w2 w3 w4 w5 w6 w7 w8 "
                    "w9 w10', 'aa', 'tiny', CAST(29 AS BIGINT))")
        sf = str(tmp_path)
        duckdb.sql("COPY (SELECT * FROM (VALUES " + ", ".join(rows)
                   + ") t(doc_id, text, lang, source, n_chars)) TO '"
                   + f"{sf}/documents.parquet' (FORMAT PARQUET)")

        got = {r["source"]: (r["adm_ppm"], r["n_docs_kept"])
               for r in q_mixture_apply(spark, sf).collect()}

        # Python replay of the integer chain
        import math
        n = {"big": 10_000, "tiny": 10}
        isq = {s: math.isqrt(v) for s, v in n.items()}
        tot_n, tot_sq = sum(n.values()), sum(isq.values())
        boost = {s: ((10**6 * isq[s]) // tot_sq) * 10**6
                 // max((10**6 * n[s]) // tot_n, 1) for s in n}
        maxb = max(boost.values())
        adm = {s: (10**6 * b) // maxb for s, b in boost.items()}
        assert adm["tiny"] == 1_000_000
        assert 0 < adm["big"] < 1_000_000

        def h64(x: str) -> int:
            return int(hashlib.md5(x.encode()).hexdigest()[:15], 16)

        kept = {"big": sum(1 for i in range(1000)
                           if h64(str(i)) % 10**6 < adm["big"]),
                "tiny": 1}
        want = {s: (adm[s], kept[s]) for s in n if kept[s] > 0}
        assert got == want


class TestDsirExport:
    def test_landed_mix_equals_selection(self, spark, sf_dir):
        """The landed DSIR-mix table must hold EXACTLY the top-DSIR_K
        selection (same docs, scores, langs, chars as the in-plan
        frame), and a re-invocation must read the memoized table
        instead of re-landing."""
        import columnar_estimator_sample_spark.operators.corpus as C
        from columnar_estimator_sample_spark.sources import tables
        from columnar_estimator_sample_spark.sources.tables import table

        try:
            landed = C.dsir_export_table(spark, sf_dir)
            docs = table(spark, sf_dir, "documents")
            want = sorted(
                tuple(r) for r in
                C._dsir_selected(spark, sf_dir, C._dsir_bigram_feats(docs))
                .join(docs.select("doc_id", "n_chars"), "doc_id")
                .select("doc_id", "lang", "score_ppm", "n_chars")
                .collect())
            got = sorted(tuple(r) for r in landed
                         .select("doc_id", "lang", "score_ppm", "n_chars")
                         .collect())
            assert got == want
            assert len(got) == C.DSIR_K
            # memo: a second invocation reads the same landed files (a
            # second landing would write to a fresh scratch directory)
            again = C.dsir_export_table(spark, sf_dir)
            assert sorted(again.inputFiles()) == \
                sorted(landed.inputFiles())
            assert sorted(tuple(r) for r in again
                          .select("doc_id", "lang", "score_ppm",
                                  "n_chars").collect()) == want
        finally:
            tables.reset_handles()


class TestRound10ApplyOps:
    def test_token_budget_pack_matches_naive_single_window(self, spark,
                                                           sf_dir):
        """The two-phase (tier histogram + within-tier window) selection
        must keep EXACTLY the prefix a naive per-language global-sort
        cumsum keeps."""
        import pyspark.sql.functions as F
        from pyspark.sql import Window as W
        from columnar_estimator_sample_spark.operators.corpus import (
            PACK_BUDGET_PERMILLE, q_token_budget_pack,
        )
        from columnar_estimator_sample_spark.operators.textstats import (
            doc_lm_scores,
        )
        from columnar_estimator_sample_spark.sources.tables import table

        pool = (doc_lm_scores(spark, sf_dir)
                .select("doc_id", "lang",
                        F.col("lm_score_permille").alias("score"))
                .join(table(spark, sf_dir, "documents")
                      .select("doc_id",
                              F.size(F.split("text", " ")).cast("long")
                              .alias("n_toks")), "doc_id"))
        bud = (pool.groupBy("lang")
               .agg(F.expr(f"CAST(SUM(n_toks) * {PACK_BUDGET_PERMILLE}"
                           " DIV 1000 AS BIGINT)").alias("budget_tokens")))
        w = (W.partitionBy("lang").orderBy(F.desc("score"), "doc_id")
             .rowsBetween(W.unboundedPreceding, 0))
        naive = (pool.withColumn("cum", F.sum("n_toks").over(w))
                 .join(bud, "lang")
                 .filter(F.col("cum") <= F.col("budget_tokens"))
                 .groupBy("lang")
                 .agg(F.count("*").alias("docs_kept"),
                      F.sum("n_toks").alias("tokens_kept"),
                      F.min("score").alias("cut_score")))
        want = {r["lang"]: (r["docs_kept"], r["tokens_kept"],
                            r["cut_score"]) for r in naive.collect()}
        got = {r["lang"]: (r["docs_kept"], r["tokens_kept"],
                           r["cut_score"])
               for r in q_token_budget_pack(spark, sf_dir).collect()}
        assert got == want
        # and the budget is actually binding: every language keeps
        # strictly FEWER tokens than its pool holds (something was
        # excluded), on top of the cap itself
        pool_toks = {r["lang"]: r["pool_tokens"]
                     for r in pool.groupBy("lang")
                     .agg(F.sum("n_toks").alias("pool_tokens")).collect()}
        for r in q_token_budget_pack(spark, sf_dir).collect():
            assert r["tokens_kept"] <= r["budget_tokens"]
            assert r["tokens_kept"] < pool_toks[r["lang"]], (
                f"budget not binding for {r['lang']}: kept all "
                f"{pool_toks[r['lang']]} pool tokens")

    def test_contamination_apply_matches_naive_member_level(self, spark,
                                                            sf_dir):
        """The contraction-based removal must flag exactly the train
        docs a naive member-level trigram join flags."""
        import pyspark.sql.functions as F
        from columnar_estimator_sample_spark.operators.corpus import (
            _word3_expr, q_contamination_apply,
        )
        from columnar_estimator_sample_spark.sources.tables import table

        docs = table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "text")
        grams = docs.select(
            "doc_id", F.split("text", " ").alias("toks")).select(
            "doc_id", F.explode(_word3_expr("toks")).alias("ngram"))
        ev = (grams.filter(F.col("doc_id") % 50 == 0)
              .select(F.col("doc_id").alias("eval_doc"), "ngram"))
        tr = (grams.filter(F.col("doc_id") % 50 != 0)
              .select(F.col("doc_id").alias("train_doc"), "ngram"))
        contam = (tr.join(ev, "ngram")
                  .groupBy("train_doc", "eval_doc")
                  .agg(F.count("*").alias("n"))
                  .filter(F.col("n") >= 3)
                  .select("train_doc").distinct())
        naive = (docs.filter(F.col("doc_id") % 50 != 0)
                 .join(contam.withColumnRenamed("train_doc", "doc_id")
                       .withColumn("is_c", F.lit(1)), "doc_id", "left")
                 .groupBy("lang")
                 .agg(F.sum(F.when(F.col("is_c") == 1, 1).otherwise(0))
                      .alias("docs_removed"),
                      F.count("*").alias("docs_before")))
        want = {r["lang"]: (r["docs_before"], r["docs_removed"])
                for r in naive.collect()}
        got = {r["lang"]: (r["docs_before"], r["docs_removed"])
               for r in q_contamination_apply(spark, sf_dir).collect()}
        assert got == want

    def test_dedup_apply_complements_savings(self, spark, sf_dir):
        """q_dedup_apply (per-lang after-state) and q_dedup_savings
        (per-source removed-state) must agree on the corpus-wide removal
        count, and each lang row must balance."""
        from columnar_estimator_sample_spark.operators.graph import (
            q_dedup_apply, q_dedup_savings,
        )
        ap = q_dedup_apply(spark, sf_dir).collect()
        sv = q_dedup_savings(spark, sf_dir).collect()
        assert sum(r["docs_removed"] for r in ap) == \
            sum(r["n_removed"] for r in sv)
        for r in ap:
            assert r["docs_before"] == r["docs_removed"] + r["docs_after"]

    def test_corpus_export_materializes_clean_corpus(self, spark, sf_dir):
        """The export sink: landed docs are disjoint from the near-dup
        removed set, the parquet layout is lang-partitioned on disk,
        and the landed row count equals the non-empty cleaned docs."""
        import pyspark.sql.functions as F
        from columnar_estimator_sample_spark.operators.graph import (
            neardup_removed,
        )
        from columnar_estimator_sample_spark.operators.pipeline import (
            corpus_export_table, q_corpus_export,
        )

        census = {r["lang"]: r for r in
                  q_corpus_export(spark, sf_dir).collect()}
        landed = corpus_export_table(spark, sf_dir)
        assert any("lang=" in f for f in landed.inputFiles()), \
            landed.inputFiles()[:3]
        assert landed.join(neardup_removed(spark, sf_dir),
                           "doc_id").count() == 0
        assert landed.filter(F.length("clean_text") == 0).count() == 0
        got = {r["lang"]: r["n"] for r in
               landed.groupBy("lang").agg(F.count("*").alias("n"))
               .collect()}
        assert got == {k: v["n_docs"] for k, v in census.items()}

    def test_corpus_export_downstream_join_no_exchange(self, spark,
                                                       sf_dir):
        """The landed corpus carries its doc_id bucket spec (the 100 TB
        co-location promise): a join against any equally-bucketed side
        — here per-doc LM scores, the realistic 'join scores to
        training text' step — must plan as a SortMergeJoin with ZERO
        exchanges, both sides' partitioning coming from the bucketed
        scans themselves."""
        from columnar_estimator_sample_spark.operators.partitioning import (
            bucketed_ctas,
        )
        from columnar_estimator_sample_spark.operators.pipeline import (
            EXPORT_BUCKETS, corpus_export_table,
        )
        from columnar_estimator_sample_spark.operators.textstats import (
            doc_lm_scores,
        )

        landed = corpus_export_table(spark, sf_dir)
        scores = bucketed_ctas(
            spark, "test_doc_scores_bucketed",
            doc_lm_scores(spark, sf_dir)
            .select("doc_id", "lm_score_permille"),
            "doc_id", n_buckets=EXPORT_BUCKETS)
        j = (landed.hint("merge").join(scores, "doc_id")
             .select("doc_id", "lang", "lm_score_permille"))
        n = j.count()
        assert n == landed.count()  # every landed doc has a score row
        plan = (j._jdf.queryExecution().executedPlan().toString()
                .split("== Initial Plan ==")[0])
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan

    def test_budget_pack_property_constructed_pools(self, spark):
        """Seeded-random constructed pools (score ties, single-doc
        langs, huge docs that overflow the budget instantly, zero and
        100%+ budgets) — the two-phase histogram selection must equal a
        pure-Python ordered-prefix replay exactly."""
        import random
        import pyspark.sql.functions as F  # noqa: F401
        from columnar_estimator_sample_spark.operators.corpus import (
            budget_pack,
        )

        rng = random.Random(41)
        for trial, permille in [(0, 200), (1, 0), (2, 1000), (3, 1500),
                                (4, 7)]:
            rows = []
            did = 0
            for lang in ["aa", "bb", "cc"]:
                for _ in range(rng.randint(1, 15)):
                    rows.append((did, lang,
                                 rng.choice([0, 5, 5, 9, 1000]),
                                 rng.choice([1, 3, 10_000])))
                    did += 1
            pool = spark.createDataFrame(
                rows, ["doc_id", "lang", "score", "n_toks"])

            def brute(rows, permille):
                out = {}
                langs = {r[1] for r in rows}
                for lang in langs:
                    pl = sorted((r for r in rows if r[1] == lang),
                                key=lambda r: (-r[2], r[0]))
                    budget = sum(r[3] for r in pl) * permille // 1000
                    cum, kept = 0, []
                    for r in pl:
                        cum += r[3]
                        if cum <= budget:
                            kept.append(r)
                    out[lang] = (budget, len(kept),
                                 sum(r[3] for r in kept),
                                 min((r[2] for r in kept), default=-1))
                return out

            got = {r["lang"]: (r["budget_tokens"], r["docs_kept"],
                               r["tokens_kept"], r["cut_score"])
                   for r in budget_pack(pool, permille).collect()}
            assert got == brute(rows, permille), (trial, permille)

    def test_ccnet_switchover_paths_equal(self, spark, sf_dir,
                                          monkeypatch):
        """q_ccnet_tiers picks window vs histogram by a plan-time
        footer check (documents row count vs the task threshold — a
        config check, not a manual edit). Forcing the histogram path
        via the threshold must yield the byte-identical census the
        default window path yields."""
        import os
        import columnar_estimator_sample_spark.operators.textstats as ts
        from columnar_estimator_sample_spark.sources.tables import (
            parquet_num_rows,
        )

        n = parquet_num_rows(os.path.join(sf_dir, "documents.parquet"))
        assert 0 < n <= ts.CCNET_WINDOW_MAX_DOCS_PER_LANG
        base = sorted(tuple(r) for r in
                      ts.q_ccnet_tiers(spark, sf_dir).collect())
        monkeypatch.setattr(ts, "CCNET_WINDOW_MAX_DOCS_PER_LANG", 0)
        forced = sorted(tuple(r) for r in
                        ts.q_ccnet_tiers(spark, sf_dir).collect())
        assert forced == base

    def test_ntile3_histogram_matches_naive_window(self, spark):
        """The histogram-decomposed NTILE(3) must assign the exact tier
        the naive per-language window assigns, on constructed pools
        covering heavy score ties, n % 3 in {0,1,2}, single-doc langs,
        and a lang smaller than 3 docs."""
        import random
        import pyspark.sql.functions as F
        from pyspark.sql import Window as W
        from columnar_estimator_sample_spark.operators.textstats import (
            ntile3_by_score,
        )

        rng = random.Random(7)
        rows, did = [], 0
        for lang, n in [("aa", 1), ("bb", 2), ("cc", 3), ("dd", 7),
                        ("ee", 30), ("ff", 31), ("gg", 32)]:
            for _ in range(n):
                rows.append((did, lang, rng.choice([0, 5, 5, 5, 9])))
                did += 1
        pool = spark.createDataFrame(rows, ["doc_id", "lang", "score"])
        w = W.partitionBy("lang").orderBy(F.desc("score"), F.asc("doc_id"))
        want = {(r["doc_id"]): r["tier"] for r in
                pool.withColumn("tier", F.ntile(3).over(w).cast("long"))
                .collect()}
        got = {r["doc_id"]: r["tier"] for r in
               ntile3_by_score(pool).collect()}
        assert got == want


def test_corpus_export_rebuilds_after_reset_handles(spark, sf_dir):
    """reset_handles() now REMOVES the export's scratch dir with the
    memo; a later call must rebuild the bucketed table cleanly (same
    catalog name, new external location) and census identically."""
    from columnar_estimator_sample_spark.operators.pipeline import (
        corpus_export_table, q_corpus_export,
    )
    from columnar_estimator_sample_spark.sources import tables

    before = sorted(tuple(r) for r in
                    q_corpus_export(spark, sf_dir).collect())
    first_files = set(corpus_export_table(spark, sf_dir).inputFiles())
    tables.reset_handles()
    after = sorted(tuple(r) for r in
                   q_corpus_export(spark, sf_dir).collect())
    assert after == before
    # rebuilt at a fresh location (old dir was swept)
    assert set(corpus_export_table(spark, sf_dir).inputFiles()) \
        .isdisjoint(first_files)
    tables.reset_handles()
