"""Unit tests for operator modules beyond the registry contract: the trace
MVP golden pipeline, dedup/similarity internals, feature engineering, and
the statistics module."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


class TestTraceAnalytics:
    def test_flatten_preserves_ordinal(self, spark):
        from columnar_estimator_sample_spark.operators.flatten import (
            flatten_trace,
        )
        flat = flatten_trace(spark)
        # 50 docs x 200 events (fixture contract)
        assert flat.count() == 10_000
        # ordinals are 0..199 within each doc
        assert flat.agg(F.min("index"), F.max("index")).collect()[0] == (0, 199)
        assert flat.columns == ["index", "ph", "cat", "name", "pid", "tid",
                                "ts", "dur", "arg_name", "arg_op"]

    def test_top_ops_shape(self, spark):
        from columnar_estimator_sample_spark.operators.flatten import (
            flatten_trace, trace_top_ops,
        )
        top = trace_top_ops(flatten_trace(spark), k=20).collect()
        assert len(top) == 20
        durs = [r["total_dur"] for r in top]
        assert durs == sorted(durs, reverse=True)

    def test_ctas_roundtrip(self, spark):
        from columnar_estimator_sample_spark.operators.flatten import (
            materialize_trace_table,
        )
        tbl = materialize_trace_table(spark, name="traces_test")
        assert tbl.count() == 10_000
        spark.sql("DROP TABLE traces_test")


class TestDedup:
    def test_exactsubstr_known_runs(self, spark):
        """Constructed corpus pins the islands logic: two docs share
        exactly one 12-token verbatim run (reported as 12), another
        pair shares two disjoint 8-token runs (max 8, n_spans 2), and a
        window repeated across >SPAN_MAX_SPREAD docs is boilerplate and
        must anchor NO pair."""
        from columnar_estimator_sample_spark.operators.dedup import (
            SPAN_MAX_SPREAD, exactsubstr_census,
        )

        def words(prefix, n):
            return " ".join(f"{prefix}{i}" for i in range(n))

        shared12 = words("s", 12)
        runA, runB = words("p", 8), words("q", 8)
        boiler = words("b", 8)
        rows = [
            (1, f"{words('x', 5)} {shared12} {words('y', 5)}"),
            (2, f"{words('z', 3)} {shared12} {words('w', 7)}"),
            # two disjoint 8-token runs, interrupted by unique tokens
            (3, f"{runA} u3a {runB} {words('m', 4)}"),
            (4, f"{runA} u4a {runB} {words('n', 4)}"),
        ] + [
            # boilerplate: the same 8-token window in 10 > SPAN_MAX_SPREAD
            # docs, padded with unique tokens so no other window repeats
            (100 + i, f"{boiler} {words(f'f{i}_', 6)}")
            for i in range(SPAN_MAX_SPREAD + 2)
        ]
        docs = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {(r["doc_a"], r["doc_b"]): (r["max_shared_tokens"],
                                          r["n_spans"])
               for r in exactsubstr_census(docs).collect()}
        assert got[(1, 2)] == (12, 1)
        assert got[(3, 4)] == (8, 2)
        assert all(a < 100 for a, _ in got), \
            f"boilerplate window anchored pairs: {got}"

    def test_exactsubstr_apply_span_merge(self, spark):
        """Replay test for the apply step's interval union: adjacent,
        overlapping, and nested covered windows must merge so each
        duplicated token is removed exactly once, survivors rejoin with
        single spaces, and a fully-covered doc empties."""
        from columnar_estimator_sample_spark.operators.dedup import (
            exactsubstr_apply, exactsubstr_spans,
        )

        def words(prefix, n):
            return " ".join(f"{prefix}{i}" for i in range(n))

        # shared12: one 12-token run -> overlapping windows (p..p+7 for
        # p in 1..5 of the run) union to ONE 12-token interval.
        # runA + mid + runB where mid is ALSO shared: nested/adjacent
        # islands chain into one 17-token interval (8 + 1 + 8).
        # doc 5/6: the entire text is one shared run -> doc empties.
        shared12 = words("s", 12)
        runA, runB = words("p", 8), words("q", 8)
        whole = words("w", 9)
        rows = [
            (1, f"{words('x', 5)} {shared12} {words('y', 5)}"),
            (2, f"{words('z', 3)} {shared12} {words('v', 7)}"),
            (3, f"{runA} mid {runB} {words('m', 4)}"),
            (4, f"{runA} mid {runB} {words('n', 4)}"),
            (5, whole),
            (6, whole),
        ]
        docs = spark.createDataFrame(rows, ["doc_id", "text"])

        spans = {r["doc_id"]: (r["lo"], r["hi"])
                 for r in exactsubstr_spans(docs).collect()}
        # one merged interval per doc despite many overlapping windows
        assert len(spans) == 6
        assert spans[1] == (6, 17)      # 12 tokens after the 5-token pad
        assert spans[3] == (1, 17)      # runA+mid+runB chain as one
        assert spans[5] == (1, 9)       # whole doc covered

        got = {r["doc_id"]: (r["clean_text"], r["n_toks"], r["kept_toks"])
               for r in exactsubstr_apply(docs).collect()}
        assert got[1] == (f"{words('x', 5)} {words('y', 5)}", 22, 10)
        assert got[2] == (f"{words('z', 3)} {words('v', 7)}", 22, 10)
        assert got[3] == (words("m", 4), 21, 4)
        assert got[4] == (words("n", 4), 21, 4)
        assert got[5] == ("", 9, 0)
        assert got[6] == ("", 9, 0)

    def test_exactsubstr_keepfirst_keeps_one_copy(self, spark, sf_dir):
        """The Lee et al. removal rule: the globally first occurrence of
        each duplicated window survives. On the constructed corpus the
        first doc of the whole-text-duplicated pair keeps its full text
        and the second empties; and corpus-wide the keepfirst rule
        removes strictly less than the both-copies apply rule."""
        from columnar_estimator_sample_spark.operators.dedup import (
            exactsubstr_apply, exactsubstr_keepfirst_spans,
            q_dedup_exactsubstr_apply, q_dedup_exactsubstr_keepfirst,
        )

        def words(prefix, n):
            return " ".join(f"{prefix}{i}" for i in range(n))

        whole = words("w", 9)
        rows = [
            (1, f"{words('x', 5)} {words('s', 12)} {words('y', 5)}"),
            (2, f"{words('z', 3)} {words('s', 12)} {words('v', 7)}"),
            (5, whole),
            (6, whole),
        ]
        docs = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {r["doc_id"]: (r["clean_text"], r["kept_toks"])
               for r in exactsubstr_apply(
                   docs, spans=exactsubstr_keepfirst_spans(docs))
               .collect()}
        # doc 1 holds the first occurrence of every shared window
        assert got[1] == (f"{words('x', 5)} {words('s', 12)} "
                          f"{words('y', 5)}", 22)
        assert got[2] == (f"{words('z', 3)} {words('v', 7)}", 10)
        assert got[5] == (whole, 9)
        assert got[6] == ("", 0)

        ap = {r["lang"]: r for r in
              q_dedup_exactsubstr_apply(spark, sf_dir).collect()}
        kf = {r["lang"]: r for r in
              q_dedup_exactsubstr_keepfirst(spark, sf_dir).collect()}
        assert set(ap) == set(kf)
        for lang, a in ap.items():
            k = kf[lang]
            assert k["tokens_before"] == a["tokens_before"]
            # keepfirst never removes more; strictly less wherever the
            # both-copies rule removed anything
            assert k["tokens_after"] >= a["tokens_after"]
            if a["tokens_after"] < a["tokens_before"]:
                assert k["tokens_after"] > a["tokens_after"]

    def test_exactsubstr_apply_matches_savings(self, spark, sf_dir):
        """Invariant: tokens removed by the apply census equals the
        savings census's dup_tokens, language by language (the apply
        step removes exactly the mass the savings census prices)."""
        from columnar_estimator_sample_spark.operators.dedup import (
            q_dedup_exactsubstr_apply, q_dedup_exactsubstr_savings,
        )
        ap = {r["lang"]: r for r in
              q_dedup_exactsubstr_apply(spark, sf_dir).collect()}
        sv = {r["lang"]: r for r in
              q_dedup_exactsubstr_savings(spark, sf_dir).collect()}
        assert set(ap) == set(sv)
        for lang, a in ap.items():
            s = sv[lang]
            assert a["tokens_before"] == s["total_tokens"]
            assert a["tokens_before"] - a["tokens_after"] == s["dup_tokens"]
            assert a["docs_affected"] == s["n_docs_affected"]

    def test_exactsubstr_apply_fuzz_vs_bruteforce(self, spark):
        """Seeded-random corpora replayed by a pure-Python brute force
        of BOTH removal rules — both-copies interval union and the
        keep-first-occurrence rule — must match the engine's cleaned
        texts exactly, doc for doc."""
        import random

        from columnar_estimator_sample_spark.operators.dedup import (
            SPAN_K, SPAN_MAX_SPREAD, exactsubstr_apply,
            exactsubstr_keepfirst_spans,
        )

        def brute_clean(texts, keepfirst):
            wins, docs_of = {}, {}
            for d in sorted(texts):
                toks = texts[d].split(" ")
                wins[d] = [" ".join(toks[i:i + SPAN_K])
                           for i in range(len(toks) - SPAN_K + 1)]
                for w in wins[d]:
                    docs_of.setdefault(w, set()).add(d)
            ok = {w for w, ds in docs_of.items()
                  if 2 <= len(ds) <= SPAN_MAX_SPREAD}
            first = {}
            for d in sorted(texts):
                for i, w in enumerate(wins[d]):
                    if w in ok and w not in first:
                        first[w] = (d, i)
            out = {}
            for d, t in texts.items():
                toks = t.split(" ")
                covered = set()
                for i, w in enumerate(wins[d]):
                    if w not in ok:
                        continue
                    if keepfirst and first[w] == (d, i):
                        continue
                    covered.update(range(i, i + SPAN_K))
                kept = [tok for i, tok in enumerate(toks)
                        if i not in covered]
                out[d] = " ".join(kept)
            return out

        rng = random.Random(23)
        for trial in range(3):
            pool = [[f"a{trial}_{p}_{i}" for i in range(rng.randint(6, 11))]
                    for p in range(6)]
            texts = {}
            for d in range(12):
                toks = []
                for _ in range(rng.randint(2, 5)):
                    toks += rng.choice(pool)
                    toks += [f"u{trial}_{d}_{len(toks)}"] * rng.randint(0, 2)
                texts[d] = " ".join(toks)
            df = spark.createDataFrame(list(texts.items()),
                                       ["doc_id", "text"])
            got_both = {r["doc_id"]: r["clean_text"]
                        for r in exactsubstr_apply(df).collect()}
            assert got_both == brute_clean(texts, keepfirst=False), trial
            got_kf = {r["doc_id"]: r["clean_text"]
                      for r in exactsubstr_apply(
                          df, spans=exactsubstr_keepfirst_spans(df))
                      .collect()}
            assert got_kf == brute_clean(texts, keepfirst=True), trial

    def test_exactsubstr_fuzz_vs_bruteforce(self, spark):
        """Seeded-random corpora (docs stitched from a shared phrase
        pool, so verbatim runs really occur) replayed by a pure-Python
        brute force of the full spec — window hashing (by content),
        spread cap, per-diagonal islands — must match the engine
        exactly."""
        import random

        from columnar_estimator_sample_spark.operators.dedup import (
            SPAN_K, SPAN_MAX_SPREAD, exactsubstr_census,
        )

        def brute(texts):
            wins = {}
            for d, t in texts.items():
                toks = t.split(" ")
                wins[d] = [" ".join(toks[i:i + SPAN_K])
                           for i in range(len(toks) - SPAN_K + 1)]
            docs_of = {}
            for d, ww in wins.items():
                for w in ww:
                    docs_of.setdefault(w, set()).add(d)
            ok = {w for w, ds in docs_of.items()
                  if 2 <= len(ds) <= SPAN_MAX_SPREAD}
            out = {}
            ids = sorted(texts)
            for i, a in enumerate(ids):
                for b in ids[i + 1:]:
                    diags = {}
                    for pa, wa in enumerate(wins[a]):
                        if wa not in ok:
                            continue
                        for pb, wb in enumerate(wins[b]):
                            if wb == wa:
                                diags.setdefault(pa - pb, set()).add(pa)
                    spans = []
                    for pas in diags.values():
                        pas = sorted(pas)
                        run = 1
                        for j in range(1, len(pas) + 1):
                            if j < len(pas) and pas[j] == pas[j - 1] + 1:
                                run += 1
                            else:
                                spans.append(run + SPAN_K - 1)
                                run = 1
                    if spans:
                        out[(a, b)] = (max(spans), len(spans))
            return out

        rng = random.Random(17)
        for trial in range(3):
            pool = [[f"t{trial}_{p}_{i}" for i in range(rng.randint(5, 10))]
                    for p in range(6)]
            texts = {}
            for d in range(10):
                toks = []
                for _ in range(rng.randint(3, 5)):
                    toks += rng.choice(pool)
                    toks += [f"u{trial}_{d}_{len(toks)}"] * rng.randint(0, 2)
                texts[d] = " ".join(toks)
            expect = sorted(
                ((a, b, m, n) for (a, b), (m, n) in brute(texts).items()),
                key=lambda r: (-r[2], r[0], r[1]))[:25]
            df = spark.createDataFrame(list(texts.items()),
                                       ["doc_id", "text"])
            got = [(r["doc_a"], r["doc_b"], r["max_shared_tokens"],
                    r["n_spans"])
                   for r in exactsubstr_census(df).collect()]
            assert got == expect, (trial, got, expect)

    def test_shingles(self, spark):
        from columnar_estimator_sample_spark.operators.dedup import (
            _shingles_expr,
        )
        df = spark.createDataFrame([("abcdefghij",)], ["text"])
        out = df.select(_shingles_expr("text", 8).alias("s")).collect()[0]["s"]
        assert out == ["abcdefgh", "bcdefghi", "cdefghij"]

    def test_minhash_detects_near_dups(self, spark, sf_dir):
        # two near-identical synthetic docs must land in the same band
        from columnar_estimator_sample_spark.registry import queries
        import pandas as pd  # noqa: F401
        df = queries()["q_dedup_minhash_lsh"](spark, sf_dir)
        # contract: (doc_a < doc_b), jaccard >= threshold
        rows = df.collect()
        for r in rows:
            assert r["doc_a"] < r["doc_b"]
            assert r["jaccard"] >= 0.12

    def test_simhash_hamming_neighbors(self, spark, sf_dir):
        from columnar_estimator_sample_spark.registry import queries
        fp = queries()["q_dedup_simhash"](spark, sf_dir)
        vals = [r["simhash"] for r in fp.collect()]
        assert all(0 <= v < 2 ** 32 for v in vals)

    def test_simhash_pairs_banding_is_lossless(self, spark, sf_dir):
        """The chunk-banded self-join must return EXACTLY the brute-force
        Hamming<=t pairs (pigeonhole guarantee for t < n_chunks)."""
        import itertools
        from columnar_estimator_sample_spark.registry import queries
        fps = {r["doc_id"]: r["simhash"] for r in
               queries()["q_dedup_simhash"](spark, sf_dir).collect()}
        expected = {
            (a, b)
            for (a, fa), (b, fb) in itertools.combinations(
                sorted(fps.items()), 2)
            if (fa ^ fb).bit_count() <= 3
        }
        got = {(r["doc_a"], r["doc_b"]) for r in
               queries()["q_dedup_simhash_pairs"](spark, sf_dir).collect()}
        assert got == expected


    def test_prefix_filter_prunes_without_loss(self, spark, sf_dir):
        """Length+prefix filtering must (a) generate far fewer candidate
        pairs than brute force would compare and (b) return exactly the
        pairs the exhaustive threshold join finds (no recall loss — the
        published prefix-filter completeness guarantee)."""
        from pyspark.sql import functions as F
        from columnar_estimator_sample_spark.operators.dedup import (
            SSJOIN_T_MILLIS, _word_ngrams_expr, prefix_filter_pairs,
        )
        from columnar_estimator_sample_spark.sources.tables import table

        docs = table(spark, sf_dir, "documents").select("doc_id", "text")
        n = docs.count()
        toks = docs.select(
            "doc_id", F.split("text", " ").alias("ws")).select(
            "doc_id", F.explode(_word_ngrams_expr("ws")).alias("token"))
        # exhaustive threshold join (small n makes this affordable here)
        sizes = toks.groupBy("doc_id").agg(F.count("*").alias("n"))
        ta = toks.select(F.col("doc_id").alias("doc_a"), "token")
        tb = toks.select(F.col("doc_id").alias("doc_b"), "token")
        inter = (ta.join(tb, "token")
                 .filter(F.col("doc_a") < F.col("doc_b"))
                 .groupBy("doc_a", "doc_b").agg(F.count("*").alias("i")))
        brute = (inter
                 .join(sizes.withColumnRenamed("doc_id", "doc_a")
                       .withColumnRenamed("n", "na"), "doc_a")
                 .join(sizes.withColumnRenamed("doc_id", "doc_b")
                       .withColumnRenamed("n", "nb"), "doc_b")
                 .filter(F.lit(1000) * F.col("i")
                         >= F.lit(SSJOIN_T_MILLIS)
                         * (F.col("na") + F.col("nb") - F.col("i"))))
        expected = {(r["doc_a"], r["doc_b"]) for r in brute.collect()}
        got_df = prefix_filter_pairs(docs)
        got = {(r["doc_a"], r["doc_b"]) for r in got_df.collect()}
        assert got == expected and len(got) > 0
        # pruning: candidate pairs examined << n(n-1)/2
        from columnar_estimator_sample_spark.operators.dedup import (
            prefix_filter_candidates,
        )
        cand = prefix_filter_candidates(docs).count()
        assert cand < 0.1 * n * (n - 1) / 2


    def test_expand_member_pairs_semantics(self, spark):
        """Literal replay of the contraction-expansion contract: cross
        pairs multiply |A|x|B|, self-pairs enumerate C(|g|,2), payload
        copies verbatim, ids come out ordered."""
        from columnar_estimator_sample_spark.operators.dedup import (
            expand_member_pairs,
        )
        # groups: 1 -> {1,2,7}; 4 -> {4}; 5 -> {5,6}
        members = spark.createDataFrame(
            [(1, 1), (2, 1), (7, 1), (4, 4), (5, 5), (6, 5)],
            ["doc_id", "gid"])
        pairs = spark.createDataFrame(
            [(1, 4, 0.9),   # cross |A|=3 x |B|=1
             (1, 1, 1.0),   # self-pair: C(3,2) member pairs
             (4, 5, 0.7)],  # cross 1 x 2
            ["doc_a", "doc_b", "score"])
        got = {(r["doc_a"], r["doc_b"], r["score"]) for r in
               expand_member_pairs(pairs, members, "doc_a", "doc_b",
                                   id_col="doc_id").collect()}
        expected = {(1, 4, 0.9), (2, 4, 0.9), (4, 7, 0.9),
                    (1, 2, 1.0), (1, 7, 1.0), (2, 7, 1.0),
                    (4, 5, 0.7), (4, 6, 0.7)}
        assert got == expected

    def test_minhash_lsh_contracted_branch(self, spark, tmp_path):
        """Force the contract=True branch of q_dedup_minhash_lsh (never
        exercised by sf0.001/sf0.01/sf0.1, which all fail the >5%
        exact-dup gate) and verify its full output against a brute-force
        pair set built from first principles: within-group pairs must
        appear with Jaccard 1.0, cross-group pairs appear iff the
        REPRESENTATIVES share at least one LSH band (queried from
        minhash_bands, deterministic) AND their exact char-shingle
        Jaccard passes the verification threshold, expanded to all
        member combinations."""
        import itertools
        from columnar_estimator_sample_spark.operators.dedup import (
            JACCARD_T, SHINGLE_K, minhash_bands,
        )
        from columnar_estimator_sample_spark.registry import queries

        base = ("the quick brown fox jumps over the lazy dog and runs "
                "far away to the deep green forest tonight while stars "
                "shine brightly over the quiet silver river valley")
        near = base.replace("green forest", "dark cavern")
        texts = {1: base, 2: base, 3: base,     # exact-dup group of 3
                 4: near, 5: near,              # exact-dup group of 2
                 6: "completely different words in this one document "
                    "nothing shared with the others at all even "
                    "slightly or by accident of phrasing"}
        n, d = len(texts), len(set(texts.values()))
        assert (n - d) * 20 > n  # the census gate must fire

        docs = spark.createDataFrame(sorted(texts.items()),
                                     ["doc_id", "text"])
        docs.write.parquet(str(tmp_path / "documents.parquet"))

        def shingles(t):
            return {t[i:i + SHINGLE_K]
                    for i in range(max(len(t) - SHINGLE_K + 1, 1))}

        def jac(a, b):
            sa, sb = shingles(texts[a]), shingles(texts[b])
            return len(sa & sb) / (len(sa) + len(sb) - len(sa & sb))

        # which representative pairs collide in >= 1 band (deterministic)
        groups = {1: [1, 2, 3], 4: [4, 5], 6: [6]}
        reps = spark.createDataFrame(
            [(g, texts[g]) for g in groups], ["doc_id", "text"])
        bands = {(r["doc_id"], r["band"], r["band_key"])
                 for r in minhash_bands(reps).collect()}
        collide = {
            (ga, gb)
            for ga, gb in itertools.combinations(sorted(groups), 2)
            if any((ga, b, k) in bands and (gb, b, k) in bands
                   for (_, b, k) in bands)}

        expected = set()
        for g, mem in groups.items():           # within-group: Jaccard 1.0
            expected |= {(a, b, 1.0) for a, b
                         in itertools.combinations(sorted(mem), 2)}
        for ga, gb in collide:                  # cross-group via LSH
            if jac(ga, gb) >= JACCARD_T:
                expected |= {(min(x, y), max(x, y),
                              round(jac(ga, gb), 9))
                             for x in groups[ga] for y in groups[gb]}
        # the corpus must actually exercise the cross-group path
        assert any(a in (1, 2, 3) and b in (4, 5)
                   for a, b, _ in expected)

        got = {(r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
               for r in queries()["q_dedup_minhash_lsh"](
                   spark, str(tmp_path)).collect()}
        assert got == expected

    def test_prefix_filter_on_adversarial_corpus(self, spark):
        """Hand-built corpus exercising every contraction edge: exact-dup
        groups of size 1/2/3, near-dups crossing groups, short docs
        (< 3 words, token-less), and disjoint docs — pair set must equal
        a pure-Python brute force over word-3-gram sets."""
        import itertools
        from columnar_estimator_sample_spark.operators.dedup import (
            SSJOIN_T_MILLIS, prefix_filter_pairs,
        )
        base = ("the quick brown fox jumps over the lazy dog and runs "
                "far away to the deep green forest tonight")
        near = base.replace("green forest", "dark cave")
        texts = {
            1: base, 2: base, 3: base,          # exact-dup group of 3
            4: near, 5: near,                   # exact-dup group of 2
            6: "completely different words in this one document here "
               "nothing shared with the others at all even slightly",
            7: "tiny doc",                      # < 3 words: no tokens
            8: "tiny doc",                      # dup of a token-less doc
        }

        def grams(t):
            w = t.split(" ")
            return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)} \
                if len(w) >= 3 else set()

        expected = set()
        for a, b in itertools.combinations(sorted(texts), 2):
            ga, gb = grams(texts[a]), grams(texts[b])
            if not ga or not gb:
                continue
            i, u = len(ga & gb), len(ga | gb)
            if 1000 * i >= SSJOIN_T_MILLIS * u:
                expected.add((a, b, i, u, 1000 * i // u))
        docs = spark.createDataFrame(
            sorted(texts.items()), ["doc_id", "text"])
        got = {(r["doc_a"], r["doc_b"], r["inter_size"], r["union_size"],
                r["jaccard_millis"])
               for r in prefix_filter_pairs(docs).collect()}
        assert got == expected
        pair_ids = {(a, b) for a, b, *_ in got}
        assert (1, 2) in pair_ids and (1, 3) in pair_ids  # within-group
        assert not any(7 in p or 8 in p for p in pair_ids)  # token-less
        # the near-dup cross pair is present iff its true Jaccard passes
        ga, gn = grams(base), grams(near)
        cross_true = (1000 * len(ga & gn)
                      >= SSJOIN_T_MILLIS * len(ga | gn))
        assert ((1, 4) in pair_ids) == cross_true


class TestSimilarity:
    def test_lsh_buckets_deterministic(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.similarity import (
            ann_lsh_candidates,
        )
        a = sorted((r["vec_id"], r["bucket"])
                   for r in ann_lsh_candidates(spark, sf_dir).collect())
        b = sorted((r["vec_id"], r["bucket"])
                   for r in ann_lsh_candidates(spark, sf_dir).collect())
        assert a == b

    def test_lsh_signature_plan_has_no_interpreted_hofs(self, spark, sf_dir):
        """The signature stage must be the explode+hash-agg formulation —
        no aggregate(zip_with(...)) higher-order lambdas in the plan."""
        from columnar_estimator_sample_spark.operators.similarity import (
            ann_signatures,
        )
        plan = ann_signatures(spark, sf_dir)._jdf.queryExecution()\
            .executedPlan().toString()
        assert "zip_with" not in plan.lower()
        assert "Generate posexplode" in plan or "posexplode" in plan.lower()
        assert "HashAggregate" in plan

    def test_lsh_dedup_prunes_and_recalls(self, spark, sf_dir):
        """The banded-LSH dedup scores far fewer pairs than N²/2, returns
        only true (exactly-scored) pairs, and recalls a usable share of
        the brute-force answer in this corpus's weak-similarity regime."""
        from columnar_estimator_sample_spark.operators.similarity import (
            ann_candidate_pairs,
        )
        from columnar_estimator_sample_spark.registry import queries
        n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
        cand = ann_candidate_pairs(spark, sf_dir).count()
        assert cand < 0.2 * n * (n - 1) / 2
        brute = {(r["vec_a"], r["vec_b"]) for r in
                 queries()["q_dedup_embedding_cosine"](spark, sf_dir)
                 .collect()}
        lsh = {(r["vec_a"], r["vec_b"]) for r in
               queries()["q_dedup_embedding_lsh"](spark, sf_dir).collect()}
        assert lsh <= brute  # exact scoring on candidates: no false hits
        assert len(lsh) / len(brute) >= 0.35  # measured ~0.42 here


class TestFeatures:
    def test_columns_by_type(self, spark, sf_dir):
        import pyspark.sql.types as T
        from columnar_estimator_sample_spark.operators.features import (
            columns_by_type,
        )
        from columnar_estimator_sample_spark.sources.tables import table
        li = table(spark, sf_dir, "lineitem")
        strs = columns_by_type(li, T.StringType)
        assert set(strs) == {"l_returnflag", "l_linestatus"}
        nums = columns_by_type(li, T.DoubleType, exclude=("l_tax",))
        assert "l_quantity" in nums and "l_tax" not in nums

    def test_normalize_contract(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.features import (
            normalize,
        )
        from columnar_estimator_sample_spark.sources.tables import table
        li = table(spark, sf_dir, "lineitem")
        out = normalize(li, ["l_quantity"])
        stats = out.agg(F.avg("l_quantity_norm"),
                        F.stddev_samp("l_quantity_norm")).collect()[0]
        assert abs(stats[0]) < 1e-9
        assert abs(stats[1] - 1.0) < 1e-6

    def test_hashed_feature_columns(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.features import (
            hashed_feature_columns,
        )
        from columnar_estimator_sample_spark.sources.tables import table
        cust = table(spark, sf_dir, "customer")
        out = hashed_feature_columns(cust, {"c_mktsegment": 5})
        assert "c_mktsegment_bucket" in out.columns
        mx = out.agg(F.max("c_mktsegment_bucket")).collect()[0][0]
        assert 0 <= mx < 25


class TestStats:
    def test_ndv_catalog_exact_vs_approx(self, spark, sf_dir):
        from columnar_estimator_sample_spark.plans.stats import ndv_catalog
        from columnar_estimator_sample_spark.sources.tables import table
        cust = table(spark, sf_dir, "customer").select(
            "c_mktsegment", "c_nationkey", "c_acctbal",
            # hll_sketch_agg itself takes neither doubles nor dates
            F.date_add(F.lit("2024-01-01").cast("date"),
                       F.col("c_custkey").cast("int") % 40).alias("day"),
            F.lit(None).cast("string").alias("all_null"))
        cols = cust.columns
        exact = ndv_catalog(cust, cols, exact=True)
        approx = ndv_catalog(cust, cols)
        assert exact["c_mktsegment"] == 5
        assert exact["all_null"] == 0
        empty = cust.limit(0)
        inputs = [(exact, approx),
                  (ndv_catalog(empty, cols, exact=True),
                   ndv_catalog(empty, cols))]
        assert set(inputs[1][0].values()) == {0}
        for ex, ap in inputs:
            for c in ex:
                assert abs(ap[c] - ex[c]) <= max(1, 0.05 * ex[c]), c

    def test_hash_bucket_sizes(self):
        from columnar_estimator_sample_spark.plans.stats import (
            hash_bucket_sizes,
        )
        # trainer.py:264 rule on the reference's own vocab_size values
        assert hash_bucket_sizes({"cat1": 98, "cat9": 3}) == {
            "cat1": 490, "cat9": 15}

    def test_analyze_and_cbo_stats(self, spark, sf_dir):
        from columnar_estimator_sample_spark.plans.stats import (
            analyze_tables,
        )
        from columnar_estimator_sample_spark.sources.tables import table
        table(spark, sf_dir, "nation").write.mode("overwrite") \
            .saveAsTable("nation_stats_test")
        analyze_tables(spark, ["nation_stats_test"])
        cs = {r.info_name: r.info_value for r in spark.sql(
            "DESCRIBE TABLE EXTENDED nation_stats_test n_nationkey"
        ).collect()}
        assert int(cs.get("distinct_count", "0")) >= 20
        spark.sql("DROP TABLE nation_stats_test")

    def test_estimation_report(self, spark, sf_dir):
        from columnar_estimator_sample_spark.plans.stats import (
            actual_vs_estimated,
        )
        from columnar_estimator_sample_spark.sources.tables import table
        li = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 10)
        rep = actual_vs_estimated(li)
        assert rep["actual_rows"] > 0
        assert rep["root_stats"] is not None


class TestEventsTable:
    def test_nanos_surface(self, spark, sf_dir):
        from columnar_estimator_sample_spark.sources.tables import (
            events_table,
        )
        ev = events_table(spark, sf_dir)
        assert "us" in ev.columns
        r = ev.select(F.min("us"), F.max("us")).collect()[0]
        # Jan 2024 epoch range
        assert 1_704_000_000_000_000 < r[0] < r[1] < 1_707_000_000_000_000


class TestEventAnalytics:
    """Funnel / cohort / SCD2: monotone-stage invariants and one-exchange
    plan shapes."""

    def test_funnel_stages_monotone(self, spark, sf_dir):
        from columnar_estimator_sample_spark.registry import queries
        rows = queries()["q_funnel"](spark, sf_dir).collect()
        counts = [r["n_users"] for r in rows]
        assert len(counts) == 3
        # each stage can only lose users
        assert counts == sorted(counts, reverse=True)
        assert counts[0] > 0

    def test_cohort_offsets_bounded(self, spark, sf_dir):
        from columnar_estimator_sample_spark.registry import queries
        rows = queries()["q_cohort_retention"](spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert 0 <= r["day_offset"] <= 7
            assert r["n_users"] > 0
        # offset-0 row of a cohort dominates every later offset
        by_cohort = {}
        for r in rows:
            by_cohort.setdefault(r["cohort_day"], {})[r["day_offset"]] = (
                r["n_users"])
        for offs in by_cohort.values():
            if 0 in offs:
                assert all(v <= offs[0] for v in offs.values())

    def test_scd2_intervals_partition_time(self, spark, sf_dir):
        from columnar_estimator_sample_spark.registry import queries
        rows = queries()["q_scd2_history"](spark, sf_dir).collect()
        by_user = {}
        for r in rows:
            by_user.setdefault(r["user_id"], []).append(r)
        for uid, hist in list(by_user.items())[:50]:
            # intervals are adjacent, non-overlapping, exactly one open
            for a, b in zip(hist, hist[1:]):
                assert a["valid_to_us"] == b["valid_from_us"]
                assert a["is_current"] == 0
            assert hist[-1]["is_current"] == 1
            assert hist[-1]["valid_to_us"] == 9223372036854775807

    def test_scd2_single_exchange(self, spark):
        from test_plans import plan_of
        plan = plan_of(spark, "q_scd2_history")
        # one user_id window exchange + the output range sort only
        assert plan.count("Exchange hashpartitioning") == 1
        assert "BatchEvalPython" not in plan


class TestSessionWindowParity:
    def test_native_session_window_matches_sessionize(self, spark, sf_dir):
        """Spark's built-in session_window (the streaming-native gap
        sessionizer) must agree with the engine's window-based
        q_sessionize on session counts per user — two independent
        formulations of the 30-minute gap rule. (Boundary semantics
        differ only at EXACTLY-30:00.000000 gaps, which the synthetic
        microsecond data never hits.)"""
        from pyspark.sql import functions as F

        from columnar_estimator_sample_spark.operators.events import (
            q_sessionize,
        )
        from columnar_estimator_sample_spark.sources.tables import table
        ev = (table(spark, sf_dir, "events")
              .select("user_id", F.expr("timestamp_micros(us)").alias("t")))
        native = (ev.groupBy(F.session_window("t", "30 minutes"),
                             "user_id")
                  .count()
                  .groupBy("user_id")
                  .agg(F.count("*").alias("n_sessions")))
        ours = (q_sessionize(spark, sf_dir)
                .groupBy("user_id")
                .agg(F.count("*").alias("n_sessions")))
        diff = (native.join(ours, "user_id", "full")
                .filter((native.n_sessions != ours.n_sessions)
                        | native.n_sessions.isNull()
                        | ours.n_sessions.isNull())
                .count())
        assert diff == 0

    def test_funnel_exclusion_invariants(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.events import (
            q_funnel_exclusion,
        )
        rows = q_funnel_exclusion(spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert r.n_clean + r.n_tainted <= r.n_purchases
            assert 0 <= r.clean_permille <= 1000


class TestContractExactDups:
    def test_groups_viral_ties_and_empty_payload(self, spark):
        """contract_exact_dups on a pool with a viral group, singletons,
        ties at the min id, and an empty payload."""
        from columnar_estimator_sample_spark.operators.dedup import (
            contract_exact_dups,
        )

        rows = [(7, "viral"), (3, "viral"), (11, "viral"), (30, "viral"),
                (1, "solo-a"), (2, "solo-b"), (5, ""), (9, ""),
                (20, "pair"), (21, "pair")]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        m1, r1 = contract_exact_dups(df, "doc_id", "text")
        # spot-check the contract itself: viral group -> gid 3, gsz 4
        mem = {r["doc_id"]: (r["gid"], r["gsz"]) for r in m1.collect()}
        assert mem[7] == (3, 4) and mem[30] == (3, 4)
        assert mem[5] == (5, 2) and mem[9] == (5, 2)
        assert mem[1] == (1, 1)
        # one representative per group: its min id with the payload
        assert sorted(map(tuple, r1.collect())) == [
            (1, "solo-a"), (2, "solo-b"), (3, "viral"), (5, ""),
            (20, "pair")]
