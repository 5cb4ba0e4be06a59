"""Tests for the graph (connected-components dedup clusters) and IVF ANN
operators: synthetic-graph exactness, union-find equivalence on real
pairs, and IVF pruning/recall against the brute-force baseline."""

from __future__ import annotations

import pyspark.sql.functions as F


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


class TestConnectedComponents:
    def test_synthetic_chain_and_island(self, spark):
        from columnar_estimator_sample_spark.operators.graph import (
            connected_components,
        )
        # chain 1-2-3-4 (transitive, no direct 1-4 edge) + island 10-11
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11)], ["doc_a", "doc_b"])
        got = {r["doc_id"]: r["cluster_id"]
               for r in connected_components(pairs).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    def test_clusters_match_union_find(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.dedup import (
            q_dedup_minhash_lsh,
        )
        from columnar_estimator_sample_spark.operators.graph import (
            q_dedup_clusters,
        )
        raw = [(r["doc_a"], r["doc_b"])
               for r in q_dedup_minhash_lsh(spark, sf_dir).collect()]
        expect = _union_find(raw)
        rows = q_dedup_clusters(spark, sf_dir).collect()
        got = {r["doc_id"]: r["cluster_id"] for r in rows}
        assert got == expect
        # cluster_id is the component minimum; sizes are consistent
        sizes = {}
        for r in rows:
            sizes.setdefault(r["cluster_id"], 0)
            sizes[r["cluster_id"]] += 1
        for r in rows:
            assert r["cluster_id"] <= r["doc_id"]
            assert r["cluster_size"] == sizes[r["cluster_id"]]


class TestIvfAnn:
    def test_ivf_nlist_tracks_corpus_size(self, spark, sf_dir):
        """NLIST ~ sqrt(N) (the FAISS rule, r10 100x-sweep finding made
        behavior in r11): pinned at the 16 floor at every gate/bench
        scale — so the static {IVF_NLIST}-embedding oracle strings stay
        byte-exact — and sqrt-N power-of-two growth beyond, keeping
        per-query candidates ~NPROBE*N/NLIST sublinear in N."""
        from columnar_estimator_sample_spark.operators.similarity import (
            IVF_NLIST, ivf_nlist, ivf_nlist_for,
        )
        # gate SFs (N=500) and the sf0.1 bench (N=2000) stay at the floor
        assert ivf_nlist(500) == IVF_NLIST
        assert ivf_nlist(2000) == IVF_NLIST
        # sqrt-N growth at the x-data probe scales
        assert ivf_nlist(20_000) == 64
        assert ivf_nlist(200_000) == 128
        assert ivf_nlist(2_000_000) == 512
        # structural invariants: power of two, monotone, <= N
        prev = 0
        for n in [16, 1000, 1024, 4096, 10**4, 10**5, 10**6, 10**8]:
            k = ivf_nlist(n)
            assert k & (k - 1) == 0 and k >= IVF_NLIST
            assert k >= prev and k <= max(n, IVF_NLIST)
            prev = k
        # the footer-derived value for the test sf_dir is the floor
        assert ivf_nlist_for(spark, sf_dir) == IVF_NLIST

    def test_ivf_prunes_candidates(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.similarity import (
            IVF_NPROBE, N_QUERIES, _ivf_cells,
        )
        from columnar_estimator_sample_spark.sources.tables import table
        n = table(spark, sf_dir, "embeddings").count()
        ranked, _, _ = _ivf_cells(spark, sf_dir)
        assign = ranked.filter(F.col("rnk") == 1)
        probes = ranked.filter((F.col("vec_id") < N_QUERIES)
                               & (F.col("rnk") <= IVF_NPROBE))
        # every vector lands in exactly one cell
        assert assign.count() == n
        # per-query candidate set is a strict subset of the corpus
        cand_per_q = (
            probes.select(F.col("vec_id").alias("query_id"), "centroid_id")
            .join(assign.select(F.col("vec_id").alias("neighbor_id"),
                                "centroid_id"), "centroid_id")
            .groupBy("query_id").count().collect())
        assert len(cand_per_q) == N_QUERIES
        for r in cand_per_q:
            assert r["count"] < n

    def test_ivf_bucketed_probe_no_exchange(self, spark, sf_dir):
        """The promoted inverted file (SCALE.md §3: memo -> write-once
        bucketed table): probing the materialized assignment is a join
        of two tables bucketed+sorted on centroid_id, so the physical
        plan must contain NO exchange of any kind — no shuffle (the
        bucketed scans already carry the hash partitioning) and, forced
        off broadcast with a merge hint, no broadcast either. The rows
        must equal the memo-path candidate join bit for bit."""
        from columnar_estimator_sample_spark.operators.similarity import (
            IVF_NPROBE, N_QUERIES, _ivf_cells, ivf_bucketed_assignment,
        )
        assign, probes = ivf_bucketed_assignment(spark, sf_dir)
        j = (probes.hint("merge")
             .join(assign, "centroid_id")
             .select("query_id", F.col("vec_id").alias("neighbor_id")))
        j.collect()
        plan = (j._jdf.queryExecution().executedPlan().toString()
                .split("== Initial Plan ==")[0])
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan or "SelectedBucketsCount" in plan \
            or "bucket" in plan.lower(), plan

        ranked, _, _ = _ivf_cells(spark, sf_dir)
        memo_assign = ranked.filter(F.col("rnk") == 1)
        memo_probes = ranked.filter((F.col("vec_id") < N_QUERIES)
                                    & (F.col("rnk") <= IVF_NPROBE))
        expect = (memo_probes
                  .select(F.col("vec_id").alias("query_id"), "centroid_id")
                  .join(memo_assign.select(
                      F.col("vec_id").alias("neighbor_id"), "centroid_id"),
                      "centroid_id")
                  .select("query_id", "neighbor_id"))
        got = sorted((r["query_id"], r["neighbor_id"])
                     for r in j.collect())
        want = sorted((r["query_id"], r["neighbor_id"])
                      for r in expect.collect())
        assert got == want

    def test_ivf_recall_vs_brute_force(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.similarity import (
            q_ann_ivf_topk, q_similarity_topk,
        )
        brute = q_similarity_topk(spark, sf_dir).collect()
        ivf = q_ann_ivf_topk(spark, sf_dir).collect()
        exact = {(r["query_id"], r["neighbor_id"]) for r in brute}
        approx = {(r["query_id"], r["neighbor_id"]) for r in ivf}
        # approximate search trades recall for pruning but must overlap
        assert len(exact & approx) > 0
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.2
        # contract: ranks 1..k per query, cosine non-increasing per query
        by_q = {}
        for r in ivf:
            by_q.setdefault(r["query_id"], []).append(r)
        for rows in by_q.values():
            rows.sort(key=lambda r: r["rank"])
            assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
            cosines = [r["cosine"] for r in rows]
            assert cosines == sorted(cosines, reverse=True)


class TestCoarseAssignDegenerateInputs:
    @staticmethod
    def _frames(spark, cents):
        def ex_frame(rows):
            return (spark.createDataFrame(
                        rows, "vec_id long, v array<long>")
                    .select("vec_id", F.posexplode("v").alias("i", "vi")))
        vecs = [(10, [1, 0]), (11, [0, 1]), (12, [2, 1]), (13, [1, 3])]
        sub_ex = ex_frame(vecs)
        cex = (ex_frame(cents)
               .select(F.col("vec_id").alias("centroid_id"), "i",
                       F.col("vi").alias("ci")))
        cnorms = cex.groupBy("centroid_id").agg(
            F.sum(F.col("ci") * F.col("ci")).alias("nc_s"))
        return sub_ex, cex, cnorms

    def test_zero_norm_centroid_fails_loudly_under_ansi(self, spark):
        """The engine (and the driver's plain Spark 4 session) runs
        ANSI-on, so a zero-norm centroid's x/0 cosine RAISES — the
        degenerate input can never silently mis-assign (the
        q_semdedup assert_true philosophy; under an ANSI-off
        deployment the r12-advisory coalesce(-score, +inf) instead
        pins the NULL scores to the window's NULLS-LAST place)."""
        import pytest
        from columnar_estimator_sample_spark.operators.similarity import (
            _inc_coarse_assign,
        )
        sub_ex, cex, cnorms = self._frames(
            spark, [(0, [1, 0]), (1, [0, 0]), (2, [0, 1])])
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            _inc_coarse_assign(sub_ex, cex, cnorms, "t").collect()

    def test_min_by_argmax_equals_window_reference(self, spark):
        """On finite scores the min_by argmax must reproduce the
        ROW_NUMBER window it replaced (score DESC, centroid_id
        tiebreak) exactly — including a deliberate tie (vector 11
        equidistant from centroids 1 and 2 picks the LOWER id)."""
        from pyspark.sql import Window
        from columnar_estimator_sample_spark.operators.similarity import (
            _inc_coarse_assign,
        )
        sub_ex, cex, cnorms = self._frames(
            spark, [(0, [1, 0]), (1, [0, 1]), (2, [0, 1])])
        got = {(r["vec_id"], r["centroid_id"]) for r in
               _inc_coarse_assign(sub_ex, cex, cnorms, "t").collect()}
        vc = (sub_ex.join(cex, "i")
              .groupBy("vec_id", "centroid_id")
              .agg(F.sum(F.col("vi") * F.col("ci")).alias("dot_s")))
        scored = (vc.join(cnorms, "centroid_id")
                  .select("vec_id", "centroid_id",
                          (F.col("dot_s").cast("double")
                           / F.sqrt(F.col("nc_s").cast("double")))
                          .alias("score")))
        w = Window.partitionBy("vec_id").orderBy(
            F.desc("score"), F.asc("centroid_id"))
        want = {(r["vec_id"], r["centroid_id"]) for r in
                scored.withColumn("rnk", F.row_number().over(w))
                .filter(F.col("rnk") == 1).collect()}
        assert got == want
        assert (11, 1) in got  # tie resolved to the lower centroid id


class TestIvfIncremental:
    def test_incremental_equals_rebuild(self, spark, sf_dir):
        """Append-after-assign must reproduce a from-scratch rebuild
        row-for-row: the maintained table's (vec_id, centroid_id) pairs
        equal the one-shot coarse assignment of the FULL corpus under
        the same centroids/formula, and the batch slice is exactly the
        IVF_INC_BATCH highest vec_ids."""
        from columnar_estimator_sample_spark.operators.similarity import (
            IVF_INC_BATCH, _exploded, _inc_coarse_assign,
            inc_batch_threshold, ivf_incremental_index, ivf_nlist_for,
        )
        from columnar_estimator_sample_spark.sources.tables import table
        idx = ivf_incremental_index(spark, sf_dir)
        got = sorted((r["vec_id"], r["centroid_id"], r["phase"])
                     for r in idx.collect())
        nlist = ivf_nlist_for(spark, sf_dir)
        thr = inc_batch_threshold(sf_dir)
        ex = _exploded(table(spark, sf_dir, "embeddings"))
        cex = (ex.filter(F.col("vec_id") < nlist)
               .select(F.col("vec_id").alias("centroid_id"), "i",
                       F.col("vi").alias("ci")))
        cnorms = cex.groupBy("centroid_id").agg(
            F.sum(F.col("ci") * F.col("ci")).alias("nc_s"))
        want = sorted(
            (r["vec_id"], r["centroid_id"],
             "batch" if r["vec_id"] >= thr else "base")
            for r in _inc_coarse_assign(ex, cex, cnorms, "all").collect())
        assert got == want
        assert sum(1 for _, _, p in got if p == "batch") == IVF_INC_BATCH

    def test_batch_scan_filter_pushed(self, spark, sf_dir):
        """The warm-path claim: assigning an arriving batch must read
        O(batch) rows — the vec_id >= threshold filter has to reach the
        parquet scan as a pushed filter, not evaluate post-explode."""
        from columnar_estimator_sample_spark.operators.similarity import (
            _exploded, _inc_coarse_assign, inc_batch_threshold,
            ivf_nlist_for,
        )
        from columnar_estimator_sample_spark.sources.tables import table
        thr = inc_batch_threshold(sf_dir)
        nlist = ivf_nlist_for(spark, sf_dir)
        ex = _exploded(table(spark, sf_dir, "embeddings"))
        cex = (ex.filter(F.col("vec_id") < nlist)
               .select(F.col("vec_id").alias("centroid_id"), "i",
                       F.col("vi").alias("ci")))
        cnorms = cex.groupBy("centroid_id").agg(
            F.sum(F.col("ci") * F.col("ci")).alias("nc_s"))
        batch = _inc_coarse_assign(ex.filter(F.col("vec_id") >= thr),
                                   cex, cnorms, "batch")
        plan = batch._jdf.queryExecution().executedPlan().toString()
        assert f"GreaterThanOrEqual(vec_id,{thr})" in plan.replace(
            " ", ""), plan

    def test_memoized_no_double_append(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.similarity import (
            IVF_INC_BATCH, q_ann_ivf_incremental,
        )
        a = q_ann_ivf_incremental(spark, sf_dir).collect()
        b = q_ann_ivf_incremental(spark, sf_dir).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
        assert sum(r["n_batch"] for r in b) == IVF_INC_BATCH

    def test_compaction_preserves_content_and_layout(self, spark,
                                                     sf_dir):
        """build -> append -> COMPACT: the rewritten file must hold the
        identical rows, shrink to one file per non-empty bucket, and
        re-point the memo so later reads scan the compacted layout."""
        from columnar_estimator_sample_spark.operators.similarity import (
            ivf_inc_compact, ivf_incremental_index, ivf_nlist_for,
        )
        idx = ivf_incremental_index(spark, sf_dir)
        before = sorted(tuple(r) for r in idx.collect())
        files_before = len(idx.inputFiles())
        new = ivf_inc_compact(spark, sf_dir)
        after = sorted(tuple(r) for r in new.collect())
        assert after == before
        nlist = ivf_nlist_for(spark, sf_dir)
        files_after = len(new.inputFiles())
        assert files_after <= nlist
        # base CTAS + batch append each write their own bucket files,
        # so compaction must strictly shrink the listing
        assert files_after < files_before
        assert ivf_incremental_index(spark, sf_dir) is new
        # and the maintained-census plan still rides the bucketing
        from columnar_estimator_sample_spark.operators.similarity import (
            q_ann_ivf_incremental,
        )
        plan = (q_ann_ivf_incremental(spark, sf_dir)
                ._jdf.queryExecution().executedPlan().toString()
                .split("== Initial Plan ==")[0])
        assert "Exchange hashpartitioning" not in plan, plan

    def test_census_groupby_rides_bucketing(self, spark, sf_dir):
        """The maintained file keeps its bucketed layout THROUGH the
        append: grouping by centroid_id on the post-append scan needs no
        hash exchange (the only exchange in the census plan is the final
        presentation sort)."""
        from columnar_estimator_sample_spark.operators.similarity import (
            q_ann_ivf_incremental,
        )
        df = q_ann_ivf_incremental(spark, sf_dir)
        plan = (df._jdf.queryExecution().executedPlan().toString()
                .split("== Initial Plan ==")[0])
        assert "Exchange hashpartitioning" not in plan, plan


class TestCorpusPipeline:
    def test_funnel_monotone_and_consistent(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.pipeline import (
            q_corpus_prep_pipeline,
        )
        from columnar_estimator_sample_spark.sources.tables import table
        rows = q_corpus_prep_pipeline(spark, sf_dir).collect()
        n_docs = table(spark, sf_dir, "documents").count()
        assert sum(r["n_raw"] for r in rows) == n_docs
        for r in rows:
            # each stage only removes documents
            assert (r["n_raw"] >= r["n_quality"] >= r["n_exact_unique"]
                    >= r["n_kept"])
            if r["n_kept"] > 0:
                assert r["kept_bpe_tokens"] > 0
                assert r["avg_stop_ppm"] is not None
                assert 0 <= r["avg_stop_ppm"] <= 1_000_000


class TestMergeUpsert:
    def test_merge_semantics_synthetic(self, spark):
        from columnar_estimator_sample_spark.operators.merge import (
            merge_upsert,
        )
        target = spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
            ["k", "name", "v"])
        source = spark.createDataFrame(
            [(2, "B", 99.0), (4, "d", 40.0)], ["k", "name", "v"])
        got = {r["k"]: (r["name"], r["v"])
               for r in merge_upsert(target, source, ["k"]).collect()}
        assert got == {1: ("a", 10.0), 2: ("B", 99.0),
                       3: ("c", 30.0), 4: ("d", 40.0)}

    def test_merge_counts(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.merge import (
            INSERT_MOD, q_merge_upsert,
        )
        from columnar_estimator_sample_spark.sources.tables import table
        orders = table(spark, sf_dir, "orders")
        n = orders.count()
        n_ins = orders.filter(f"o_orderkey % {INSERT_MOD} = 0").count()
        rows = q_merge_upsert(spark, sf_dir).collect()
        assert sum(r["n_orders"] for r in rows) == n + n_ins
        by_status = {r["o_orderstatus"]: r["n_orders"] for r in rows}
        assert by_status.get("N", 0) == n_ins


class TestRangeJoin:
    def test_binned_rewrite_matches_naive(self, spark, sf_dir):
        import pyspark.sql.functions as F
        from columnar_estimator_sample_spark.operators.events import (
            NEARBY_US, q_range_join_binned,
        )
        from columnar_estimator_sample_spark.sources.tables import table
        ev = table(spark, sf_dir, "events").select("event_id", "user_id",
                                                   "event_type", "us")
        a, b = ev.alias("a"), ev.alias("b")
        naive = (
            a.join(b, (F.col("b.user_id") != F.col("a.user_id"))
                   & (F.abs(F.col("b.us") - F.col("a.us")) <= NEARBY_US),
                   "left")
            .groupBy(F.col("a.event_id"), F.col("a.event_type"))
            .agg(F.count(F.col("b.event_id")).alias("n_nearby"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("n_nearby").alias("total_nearby"),
                 F.max("n_nearby").alias("max_nearby"))
            .orderBy("event_type"))
        assert (sorted(map(tuple, q_range_join_binned(spark, sf_dir)
                           .collect()))
                == sorted(map(tuple, naive.collect())))


class TestTopkFast:
    def test_matches_decimal_lane_topk(self, spark, sf_dir):
        """The partial-top-k BLAS path and the decimal-lane window path
        rank with slightly different rounding (factor-rounding vs
        product-rounding at 1e-6), so exact equality isn't guaranteed on
        near-ties — but the neighbor SETS must agree almost everywhere."""
        from columnar_estimator_sample_spark.operators.similarity import (
            q_similarity_topk, q_similarity_topk_fast)
        slow = {}
        for r in q_similarity_topk(spark, sf_dir).collect():
            slow.setdefault(r.query_id, set()).add(r.neighbor_id)
        fast = {}
        for r in q_similarity_topk_fast(spark, sf_dir).collect():
            fast.setdefault(r.query_id, set()).add(r.neighbor_id)
        assert set(slow) == set(fast)
        for q in slow:
            assert len(fast[q] & slow[q]) >= len(slow[q]) - 1, q


def test_ivf_bucketed_rebuilds_after_reset_handles(spark, sf_dir):
    """Same rebuild contract for the IVF inverted file: after
    reset_handles() sweeps the scratch dir, the next call re-creates
    the bucketed tables (overwriting the catalog names) with identical
    assignment rows."""
    from columnar_estimator_sample_spark.operators.similarity import (
        ivf_bucketed_assignment,
    )
    from columnar_estimator_sample_spark.sources import tables

    assign1, _ = ivf_bucketed_assignment(spark, sf_dir)
    rows1 = sorted(tuple(r) for r in assign1.collect())
    files1 = set(assign1.inputFiles())
    tables.reset_handles()
    assign2, _ = ivf_bucketed_assignment(spark, sf_dir)
    assert sorted(tuple(r) for r in assign2.collect()) == rows1
    assert set(assign2.inputFiles()).isdisjoint(files1)
    tables.reset_handles()
