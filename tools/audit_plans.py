"""Repo-wide physical-plan audit.

Builds the physical plan of EVERY registered query (analysis only — no
execution) and enforces the engine's global anti-pattern invariants:

  * no ``BatchEvalPython`` anywhere — row-at-a-time Python never appears
    in any plan; Python runs only as Arrow-batched ``MapInPandas`` /
    ``ArrowEvalPython``, and only in the explicit allowlist below;
  * no ``CartesianProduct`` anywhere — a shuffle cartesian is always a
    bug; broadcast 1-row scalar joins plan as BroadcastNestedLoopJoin
    and are fine.

Writes ``PLAN_AUDIT.md`` with one row per query (exchange count,
broadcast/sort-merge join usage, top-k operator, generators, Python
stages) so plan drift between rounds is reviewable in the diff.

Usage: python tools/audit_plans.py [sf_dir]   (exit 1 on violation)
"""

from __future__ import annotations

import os
import sys
import time

# queries whose plans may contain Arrow-batched Python (vectorized
# Pandas-UDF pipelines by design): the multimodal decode pipeline and
# the two BLAS candidate scorers (per-partition numpy matmul is their
# documented throughput path; everything else is pure Catalyst)
ARROW_ALLOWED = {"q_media_features", "q_similarity_topk_fast",
                 "q_dedup_embedding_lsh", "q_media_pixel_stats",
                 # r8: cross-set gather scorer (eval-vs-train screen)
                 "q_contamination_semantic",
                 "q_media_jpeg_roundtrip",
                 # r8: PNG decode + dHash is the vectorized worker-side
                 # stage of the image near-dup tier
                 "q_media_neardup", "q_media_audio_neardup",
                 "q_media_video_neardup", "q_media_search",
                 # r9: decode+box-downsample fused kernel
                 "q_media_resize",
                 # r10: near-dup survivor selection rides the same
                 # decode+dHash Arrow stage as q_media_neardup
                 "q_media_dedup_apply",
                 # r7: rides the same gather+einsum scorer as the LSH
                 # tier. CAVEAT: its MapInPandas sits BEHIND a lazy
                 # localCheckpoint boundary, which the printed plan
                 # truncates to `Scan ExistingRDD` — the static audit
                 # cannot see inside any checkpointed subtree (this also
                 # bounds the BatchEvalPython invariant: checkpointed
                 # subtrees are vouched for by their oracles + tests,
                 # not by this grep)
                 # r13: the apply face shares the same
                 # checkpointed gather-scorer subtree
                 "q_semdedup", "q_semdedup_apply",
                 # r15: the whiten recall census scores its exact-dot
                 # ground truth and LSH band keys through the packed
                 # int64 einsum/matmul kernels (guide §4.2), downstream
                 # of the checkpointed audit lanes
                 "q_embed_whiten"}

# Queries whose BUILDER legitimately runs Spark jobs. Everything else
# must build its plan with ZERO jobs: a scan at plan/registry time is
# the round-2/round-7 "fold the probe into the plan" class of defect
# (this gate caught and removed three in round 8: q_gap_fill's
# day-bounds .first(), q_bm25_search's corpus-stats .first(), and
# ann_signatures' max(size()) width probe). Kept intentionally explicit
# so a new probe trips the gate. Categories:
BUILD_RUNS_JOBS = {
    # iterative algorithms: driver loop pulls ONE convergence scalar per
    # superstep; labels/edges stay distributed (operators/graph.py,
    # geo.py, entity.py)
    "q_dedup_apply", "q_dedup_clusters", "q_dedup_savings", "q_er_entities",
    "q_media_dedup_apply",
    "q_kcore_census", "q_lpa_communities", "q_modularity", "q_pagerank",
    "q_geo_dbscan",
    # driver-loop algorithm: BPE merge selection collects the single
    # best pair per round (operators/textstats.py)
    "q_bpe_learn",
    # dogfood instrumentation: the profiler query RUNS
    # instrumented jobs by design (plans/profiler.py)
    "q_cbo_estimation",
    # r14: the deterministic twins run their parents' bounded probes at
    # build (q_cbo_actuals executes the 3 probe counts; the approx pair
    # runs the two one-row sketch/rank aggregates)
    "q_cbo_actuals", "q_approx_stats", "q_approx_stats_exact",
    # bounded query-set collect: the <=25-vector packed query set
    # (operators/similarity.py:134,792)
    "q_similarity_topk_fast",
    # lazy localCheckpoint subtrees: executedPlan() forces the
    # checkpoint RDD to materialize, pulling part of normal EXECUTION
    # forward into this audit's build step — not a plan-time probe
    "q_dedup_minhash_lsh", "q_dedup_cosine_setjoin",
    # r11: the mined pair frame feeds 7 plan references (edges x3 wedge
    # sides, deg, anti-join) — lazily checkpointed like the LPA edges
    "q_link_prediction",
    # r11: MMR's shortlist + pairwise-sim frames feed every greedy round
    # — both lazily checkpointed (r13: the forced-SQ8 lane twin shares
    # the greedy and additionally builds the SQ8 shortlist memos)
    "q_mmr_rerank", "q_mmr_rerank_scaled",
    # r12: the adaptive MAXDF cap reads the shared digest-census probe
    # (dedup.duplication_estimate)
    "q_dedup_winnow",
    "q_dedup_prefix_filter", "q_media_neardup", "q_media_search",
    "q_media_audio_neardup", "q_media_video_neardup", "q_semdedup",
    "q_er_sorted_neighborhood", "q_semdedup_apply",
    # r12: the hashed-feature frame (explode + md5) is lazily
    # checkpointed — it feeds both the bucket census and the scoring
    # join (2.60 -> 1.25 s at sf0.1)
    "q_dsir_selection", "q_dsir_bigram",
    # r14: the contamination cum-prefix frame feeds both the cutoff
    # aggregate and the survivor filter — lazily checkpointed
    "q_contamination_check",
    # r14: every two_phase_cumsum / two_phase_rank consumer — the
    # helper lazily checkpoints its ranged-local frame so the offsets
    # aggregate and the final join see ONE range layout (sampled
    # boundaries are row-order-dependent across recomputations; the
    # sf0.1 sweep caught the divergence on q_rfm_segments)
    "q_pack_chunks", "q_abc_parts", "q_max_concurrency", "q_ks_test",
    "q_funnel_latency", "q_purchase_intervals", "q_rfm_segments",
    "q_first_order_predictiveness", "q_curriculum_schedule",
    # r9: the IVF family shares one lazily-checkpointed coarse
    # assignment (similarity._ivf_cells); whichever builds first
    # materializes it (r10: q_ann_ivf_topk also writes the bucketed
    # assignment tables once per session)
    "q_ann_ivf_topk", "q_ann_ivf_pq_topk", "q_ann_ivf_pq_residual",
    "q_ann_ivf_sq_topk",
    # r12: the maintained inverted file is written once (bucketed CTAS)
    # and the arriving batch appended at build — the IO is the operator
    # (r13: the cycle census additionally runs the one-shuffle
    # compaction rewrite; the DSIR export lands the K-row selected mix)
    "q_ann_ivf_incremental", "q_ann_ivf_cycle", "q_dsir_export",
    # r11: the Gram matrix feeds 8 unrolled power-iteration rounds
    # (r12: the trajectory is memoized and shared with the whiten apply)
    "q_embed_pca", "q_embed_whiten",
    # r10: the LM-score consumers share one lazily-checkpointed
    # doc_lm_scores frame (textstats.doc_lm_scores)
    "q_doc_lm_score", "q_ccnet_tiers", "q_token_budget_pack",
    "q_quality_cascade", "q_quality_ensemble",
    "q_pretrain_mix_pipeline",
    # r10: the ExactSubstr family shares one lazily-checkpointed anchor
    # frame (dedup.exactsubstr_anchors_table)
    "q_dedup_exactsubstr", "q_dedup_exactsubstr_savings",
    "q_dedup_exactsubstr_apply", "q_dedup_exactsubstr_keepfirst",
    # r9: fanout's partition probe on the post-contraction frame
    # materializes that subtree at build (execution pulled forward —
    # same class as the checkpoint materializations above)
    "q_dedup_minhash_precision",
    # streaming availableNow drains + IO roundtrips: the builder runs
    # the stream / write-read cycle end-to-end and returns the landed
    # result as a local frame
    "q_stream_attribution", "q_stream_daily_counts",
    "q_stream_dedup_census", "q_stream_landing_census",
    "q_stream_sessions", "q_stream_sliding_value",
    "q_stream_user_totals", "q_tfrecord_stream_census",
    "q_tfrecord_roundtrip",
    # r12: foreachBatch drain of the quality-cascade admission ledger
    "q_stream_quality_cascade",
    # r12: base-index CTAS + foreachBatch append drain of the
    # stream-maintained inverted file (r13: same contract for the
    # stream-maintained LSH band index)
    "q_stream_ann_ingest", "q_stream_neardup_ingest",
    # r10: the corpus-export builder WRITES the cleaned corpus parquet
    # (once per session) and returns the landed-table census — the IO
    # roundtrip is the point of the operator
    "q_corpus_export",
}

# Queries whose builder may pull a DataFrame to the DRIVER
# (DataFrame.collect / toPandas — .first/.take/.head funnel through
# collect). Everything else must keep every frame distributed: an
# unlisted collect in a registered query path is the "driver-side loop
# over corpus-sized data" defect class, and it fails this audit even
# when the job-count gate above would have allowed it (r11 verdict #3:
# bounded-collect discipline was convention; this makes it a gate).
# Every entry documents its BOUND — none grows with corpus size:
COLLECT_ALLOWED = {
    # iterative driver loops pulling ONE convergence scalar (or one
    # O(groups) label frame) per superstep
    "q_dedup_apply": "1 scalar/superstep",
    "q_dedup_clusters": "1 scalar/superstep",
    "q_dedup_savings": "1 scalar/superstep",
    "q_media_dedup_apply": "1 scalar/superstep",
    "q_er_entities": "1 scalar/superstep",
    "q_kcore_census": "1 scalar/round",
    "q_lpa_communities": "1 scalar/round",
    "q_modularity": "1 scalar/round",
    "q_pagerank": "1 scalar (L1 delta)/iteration",
    "q_geo_dbscan": "1 scalar/expansion round",
    "q_cheapest_route": "1 scalar/relaxation round",
    "q_vq_refine": "1 mean-cos scalar/sweep + K centroid rows",
    "q_embed_centroids": "K centroid rows/sweep (K=8)",
    "q_embed_pq": "K*M subspace centroid rows/sweep",
    "q_ann_ivf_pq_topk": "PQ codebook rows (K*M, config)",
    "q_ann_ivf_pq_residual": "PQ codebook rows (K*M, config)",
    "q_pq_adc_topk": "PQ codebook rows (K*M, config)",
    # duplication-census probe (shared, memoized — dedup.digest_census):
    # ONE map-side-combinable aggregate returning two scalars (n, ndv);
    # gates the minhash exact-dup contraction and scales the winnow
    # boilerplate cap
    "q_dedup_minhash_lsh": "2-scalar duplication-census probe",
    "q_dedup_winnow": "2-scalar duplication-census probe (shared memo)",
    # BPE merge selection: argmax pair per merge round (config rounds)
    "q_bpe_learn": "1 best-pair row/merge round",
    "q_text_bpe_tokens": "learned merge table (config MERGES)",
    # bounded query/model sets folded into broadcast literals
    "q_similarity_topk_fast": "<=25 packed query vectors (config)",
    "q_ann_sq8_topk": "<=25 query vectors + 1 calibration row",
    "q_ann_sq8_recall": "<=25 query vectors + 1 calibration row",
    "q_ann_ivf_sq_topk": "<=25 query vectors + 1 calibration row",
    "q_mmr_rerank": "|Q|*S shortlist + S^2 pair sims (config S=25)",
    "q_mmr_rerank_scaled": "|Q|*S shortlist + S^2 pair sims (config "
                           "S=25; SQ8-lane candidates, same bound)",
    "q_embed_pca": "dim^2 Gram frame (4096 rows, corpus-independent)",
    "q_embed_whiten": "dim^2 Gram frame (shared _pca_eigvec trajectory)",
    # dogfood instrumentation: the profiled/estimated run IS the point
    "q_cbo_estimation": "per-operator metric rows of ONE profiled plan",
    "q_cbo_actuals": "same bound (projection of q_cbo_estimation)",
    # sketch-guarantee measurement: three ONE-ROW aggregate collects
    # (sketch outputs; exact distincts — a separate job, see the
    # expand-fallback note in _approx_stats_frame; then ranks of the
    # two returned percentile values) — corpus-size independent
    "q_approx_stats": "3 one-row aggregate collects",
    "q_approx_stats_exact": "same bound (projection of q_approx_stats)",
    "q_ndv_catalog": "catalog NDV rows (1 row/column)",
    # streaming availableNow drains: the landed result IS a bounded
    # census (distinct windows/sessions at gate SF); re-wrapped via
    # createDataFrame for a deterministic local frame
    "q_stream_attribution": "drained census rows",
    "q_stream_daily_counts": "drained census rows",
    "q_stream_dedup_census": "drained census rows",
    "q_stream_landing_census": "drained census rows",
    "q_stream_sessions": "drained census rows",
    "q_stream_sliding_value": "drained census rows",
    "q_stream_user_totals": "drained census rows",
    "q_tfrecord_stream_census": "drained census rows",
    "q_tfrecord_roundtrip": "per-lang census rows (|langs| bounded)",
    "q_stream_quality_cascade": ("(lang, verdict) partials per "
                                 "micro-batch — |langs| x 5 bounded"),
}


# Queries whose plans may contain an UNPARTITIONED Window (a WindowExec
# with no PARTITION BY — Spark funnels its whole input through ONE task).
# Legal only when the window's input frame is bounded by SIGNAL
# cardinality (a value histogram, a config-K row set), never by corpus
# size; every entry names that bound. An unlisted unpartitioned window
# exits 1 (round-13 verdict item 6: this was a documented claim, now a
# gate). Detection: a `Window` plan node with two top-level bracket
# groups (exprs, order) instead of three (exprs, partition, order).
UNPARTITIONED_WINDOW_ALLOWED: dict[str, str] = {
    # two_phase_cumsum / two_phase_rank phase 2: the ONLY globally
    # ordered window is the n_parts-row partition-offset frame
    "q_abc_parts": "32-row partition-offset frame (two_phase phase 2)",
    "q_max_concurrency": "32-row partition-offset frame (two_phase "
                         "phase 2)",
    "q_pack_chunks": "32-row partition-offset frame (two_phase phase 2)",
    "q_rfm_segments": "32-row partition-offset frames (two_phase_rank "
                      "phase 2, one per R/F/M rank)",
    "q_first_order_predictiveness": "32-row partition-offset frame "
                                    "(two_phase_rank phase 2)",
    "q_curriculum_schedule": "32-row partition-offset frame "
                             "(two_phase_rank phase 2)",
    "q_contamination_check": "32-row partition-offset frame (two_phase "
                             "phase 2; behind a lazy checkpoint)",
    # value-histogram frames: one row per DISTINCT VALUE of a bounded
    # signal, never one per document/customer/event
    "q_activity_lorenz": "activity-level histogram (distinct per-user "
                         "event counts)",
    "q_exact_auc": "distinct score-value histogram (config score expr)",
    "q_f1_threshold": "distinct score-value histogram (config score "
                      "expr)",
    "q_ks_test": "distinct metric-value rows (two-sample value "
                 "histogram)",
    "q_quality_ensemble": "rrf_rank value histograms (|distinct signal "
                          "values| per rank signal)",
    "q_hybrid_rrf": "rrf_rank value histograms (|distinct score "
                    "values| per ranker)",
    "q_skyline_parts": "distinct price-level rows (value histogram)",
    "q_funnel_latency": "ttc-second value histogram + 32-row two_phase "
                        "offsets",
    "q_purchase_intervals": "gap-day value histogram + 32-row two_phase "
                            "offsets",
    "q_churn_hazard": "lifespan-day level rows (observation-window-"
                      "bounded)",
    # config/calendar-bounded aggregate frames
    "q_benford": "9 leading-digit census rows",
    "q_quantile_sketch": "20-bin histogram rows (config bins)",
    "q_seqlen_histogram": "8-token-bin histogram rows + 32-row "
                          "two_phase offsets",
    "q_slo_burn": "per-day aggregate rows (calendar-bounded)",
    "q_tail_risk": "per-day aggregate rows (calendar-bounded)",
    "q_theilsen_trend": "day-pair slope rows (|days|^2/2, calendar-"
                        "bounded)",
    "q_zipf_check": "top-ZIPF_TOP token rows (config)",
    # r15: the temperature rate chain runs two window passes over the
    # per-domain frame — DOMAIN_K (config) rows by construction
    "q_domain_mixture": "DOMAIN_K per-domain rate rows (config K)",
}


def _unpartitioned_window_lines(plan: str) -> int:
    """Count WindowExec nodes with NO partition spec but a global ORDER —
    the single-task shape. The node prints
    ``Window [exprs], [partition], [order]`` (3 top-level bracket
    groups) when fully specified and 2 groups when either partition or
    order is absent; the two 2-group cases are told apart by the LAST
    group: a sort spec carries ``ASC NULLS``/``DESC NULLS`` markers,
    a bare partition list does not (partition-only windows — e.g. the
    dedup tier's ``min(id) OVER (PARTITION BY fingerprint)`` — scale
    fine and are not counted). A single-group node (``Window [exprs]``,
    no partition AND no order — ``Window.partitionBy()`` with no args)
    is the same single-task shape and is counted too."""
    n = 0
    for line in plan.splitlines():
        stripped = line.lstrip(" +-:*")
        if not stripped.startswith("Window ["):
            continue
        groups: list[str] = []
        depth = 0
        for ch in stripped:
            if ch == "[":
                if depth == 0:
                    groups.append("")
                depth += 1
            elif ch == "]":
                depth -= 1
            elif depth >= 1:
                groups[-1] += ch
        if len(groups) == 1 or (
                len(groups) == 2 and (" ASC NULLS" in groups[-1]
                                      or " DESC NULLS" in groups[-1])):
            n += 1
    return n


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    import __spark_entry__ as entrymod
    from columnar_estimator_sample_spark.session import get_spark

    spark = get_spark("audit_plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    # Warm the per-session table handles so each table's one-time parquet
    # schema-inference job is not attributed to whichever query happens
    # to read it first (the memo in sources.tables makes later reads
    # job-free).
    from columnar_estimator_sample_spark.sources.tables import (
        TABLES, table,
    )
    for t in TABLES:
        table(spark, sf_dir, t)
    from columnar_estimator_sample_spark.operators.flatten import (
        flatten_trace,
    )
    flatten_trace(spark)  # same one-time schema-inference warm-up

    # Bounded-collect gate: intercept the two driver-materialization
    # entry points (first/take/head all funnel through collect()) AFTER
    # the warm-up so table-handle setup isn't attributed to a query.
    # Patch the CONCRETE class — pyspark.sql.DataFrame is the abstract
    # base in PySpark 4 and its methods are overridden by the classic
    # subclass, so patching the base intercepts nothing.
    try:
        from pyspark.sql.classic.dataframe import DataFrame as _DF
    except ImportError:  # pre-4.0 layout
        from pyspark.sql import DataFrame as _DF
    _orig_collect, _orig_topandas = _DF.collect, _DF.toPandas
    collect_calls: list[str] = []

    def _rec_collect(self):
        collect_calls.append("collect")
        return _orig_collect(self)

    def _rec_topandas(self):
        collect_calls.append("toPandas")
        return _orig_topandas(self)

    _DF.collect, _DF.toPandas = _rec_collect, _rec_topandas

    tracker = spark.sparkContext.statusTracker()

    def _max_job_id() -> int:
        # Job IDs are monotonically increasing, so a max-id delta stays
        # correct even after the UI store evicts old jobs
        # (spark.ui.retainedJobs, default 1000 — len() deltas undercount
        # or go negative once eviction starts across ~260 builds plus
        # streaming drains, silently passing new plan-time probes).
        ids = tracker.getJobIdsForGroup(None)
        return max(ids) if ids else -1

    rows, violations = [], []
    t_start = time.time()
    for name, fn in qs.items():
        jobs_before = _max_job_id()
        del collect_calls[:]
        try:
            plan = (fn(spark, sf_dir)._jdf.queryExecution()
                    .executedPlan().toString())
        except Exception as e:  # noqa: BLE001
            violations.append(f"{name}: plan build failed: {e}")
            continue
        n_collects = len(collect_calls)
        if n_collects and name not in COLLECT_ALLOWED:
            violations.append(
                f"{name}: {n_collects} driver collect(s)/toPandas in the "
                "query path (outside COLLECT_ALLOWED — document the bound "
                "or keep the frame distributed)")
        build_jobs = _max_job_id() - jobs_before
        if build_jobs > 0 and name not in BUILD_RUNS_JOBS:
            violations.append(
                f"{name}: ran {build_jobs} Spark job(s) at plan-build "
                "time (outside the documented allowlist)")
        has_pyrow = "BatchEvalPython" in plan
        has_cart = "CartesianProduct" in plan
        has_arrow = ("ArrowEvalPython" in plan) or ("MapInPandas" in plan) \
            or ("MapInArrow" in plan)
        if has_pyrow:
            violations.append(f"{name}: BatchEvalPython (row Python)")
        if has_cart:
            violations.append(f"{name}: CartesianProduct (shuffle cartesian)")
        if has_arrow and name not in ARROW_ALLOWED:
            violations.append(f"{name}: Arrow Python outside allowlist")
        n_upw = _unpartitioned_window_lines(plan)
        if n_upw and name not in UNPARTITIONED_WINDOW_ALLOWED:
            violations.append(
                f"{name}: {n_upw} unpartitioned Window node(s) (single-"
                "task window outside UNPARTITIONED_WINDOW_ALLOWED — "
                "document the cardinality bound or partition the window)")
        rows.append((
            name,
            plan.count("Exchange "),
            plan.count("BroadcastHashJoin"),
            plan.count("SortMergeJoin"),
            "yes" if "TakeOrderedAndProject" in plan else "",
            plan.count("Generate "),
            "arrow" if has_arrow else "",
            n_collects or "",
            n_upw or "",
        ))
    dt = time.time() - t_start
    _DF.collect, _DF.toPandas = _orig_collect, _orig_topandas

    out = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "PLAN_AUDIT.md")
    with open(out, "w") as f:
        f.write(
            "# PLAN_AUDIT — physical-plan census of every registered "
            "query\n\n"
            f"Generated by `tools/audit_plans.py` over {len(rows)} query "
            f"plans at `{sf_dir}` ({dt:.0f}s, analysis only).\n\n"
            "Counts are static plan-TREE occurrences: iterative queries "
            "(pagerank, dbscan, vq, routes) print their lazily-"
            "checkpointed/cached subtree once per reference, so their "
            "exchange numbers overstate runtime exchanges — see "
            "BENCH/BENCH_SF1 for what actually runs.\n\n"
            "Global invariants enforced (build fails otherwise): no "
            "`BatchEvalPython` (row-at-a-time Python) in ANY plan; no "
            "`CartesianProduct` (shuffle cartesian) in ANY plan; Arrow-"
            "batched Python only in the multimodal allowlist "
            f"({', '.join(sorted(ARROW_ALLOWED))}); driver "
            "`collect()`/`toPandas()` only in the bounded-collect "
            "allowlist below (every listed bound is corpus-size-"
            "independent — an unlisted collect exits 1).\n\n"
            "| query | exchanges | broadcast joins | sort-merge joins | "
            "top-k | generators | python | collects | unpart. windows |\n"
            "|---|---|---|---|---|---|---|---|---|\n")
        for r in sorted(rows):
            f.write(f"| {r[0]} | {r[1]} | {r[2]} | {r[3]} | {r[4]} | "
                    f"{r[5]} | {r[6]} | {r[7]} | {r[8]} |\n")
        f.write("\n## Bounded-collect allowlist\n\n"
                "Queries permitted to materialize a frame on the driver, "
                "with the documented bound (COLLECT_ALLOWED in "
                "`tools/audit_plans.py`):\n\n"
                "| query | driver-side bound |\n|---|---|\n")
        for q in sorted(COLLECT_ALLOWED):
            f.write(f"| {q} | {COLLECT_ALLOWED[q]} |\n")
        f.write("\n## Unpartitioned-window allowlist\n\n"
                "Queries permitted a Window with no PARTITION BY (single-"
                "task window), with the documented input-cardinality "
                "bound — every bound is signal/config/calendar-sized, "
                "never corpus-sized (UNPARTITIONED_WINDOW_ALLOWED in "
                "`tools/audit_plans.py`; an unlisted one exits 1):\n\n"
                "| query | window-input bound |\n|---|---|\n")
        for q in sorted(UNPARTITIONED_WINDOW_ALLOWED):
            f.write(f"| {q} | {UNPARTITIONED_WINDOW_ALLOWED[q]} |\n")
        if violations:
            f.write("\n## VIOLATIONS\n\n")
            for v in violations:
                f.write(f"- {v}\n")
    print(f"{len(rows)} plans audited in {dt:.0f}s; "
          f"{len(violations)} violations -> {out}")
    for v in violations:
        print(f"VIOLATION {v}")
    return 1 if violations else 0


if __name__ == "__main__":
    raise SystemExit(main())
