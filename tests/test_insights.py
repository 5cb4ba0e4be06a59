"""Invariant tests for the analytics-insights batch: rate anomaly,
attribution, interval enrichment, bigram novelty, co-purchase mining,
per-label centroids."""

from __future__ import annotations

from pyspark.sql import functions as F

from columnar_estimator_sample_spark.operators.basket import (
    PAIR_MINSUP, q_copurchase)
from columnar_estimator_sample_spark.operators.events import (
    ANOM_HI_PM, ANOM_LO_PM, q_attribution, q_interval_enrich,
    q_rate_anomaly)
from columnar_estimator_sample_spark.operators.textstats import (
    q_bigram_novelty)
from columnar_estimator_sample_spark.operators.vq import q_embed_centroids
from columnar_estimator_sample_spark.sources.tables import epoch_us, table


class TestRateAnomaly:
    def test_flagged_outside_band(self, spark, sf_dir):
        rows = q_rate_anomaly(spark, sf_dir).collect()
        for r in rows:
            assert r.ratio_pm >= ANOM_HI_PM or r.ratio_pm <= ANOM_LO_PM
            assert len(r.day) == 10 and r.day[4] == "-"
            assert r.n >= 0


class TestAttribution:
    def test_purchases_conserved(self, spark, sf_dir):
        rows = q_attribution(spark, sf_dir).collect()
        ev = table(spark, sf_dir, "events")
        total = ev.filter(F.col("event_type") == "purchase").count()
        assert sum(r.n_purchases for r in rows) == total
        types = {r.event_type for r in
                 ev.select("event_type").distinct().collect()}
        for r in rows:
            assert r.channel == "organic" or r.channel in types
            assert r.channel != "purchase"


class TestIntervalEnrich:
    def test_events_partition_into_intervals(self, spark, sf_dir):
        rows = q_interval_enrich(spark, sf_dir).collect()
        ev = table(spark, sf_dir, "events")
        # intervals partition [first_signup, +inf) per user: the enriched
        # count per user equals that user's events at/after first signup
        first = (ev.filter(F.col("event_type") == "signup")
                 .groupBy("user_id").agg(F.min("us").alias("f")))
        expected = {
            r.user_id: r.n for r in
            ev.join(first, "user_id").filter(F.col("us") >= F.col("f"))
            .groupBy("user_id").agg(F.count("*").alias("n")).collect()}
        got: dict = {}
        for r in rows:
            got[r.user_id] = got.get(r.user_id, 0) + r.n_events
        assert got == expected


class TestBigramNovelty:
    def test_bounds(self, spark, sf_dir):
        rows = q_bigram_novelty(spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert 0 <= r.novelty_pm <= 1000
            assert 0 <= r.n_unique <= r.n_bigrams


class TestCopurchase:
    def test_frequent_pair_supports_matches_brute_force(self, spark):
        """The shared basket miner (r6: replaced the order-key self-join
        for q_copurchase / q_item_cf / LPA) against a pure-Python brute
        force over a hand-built fact list exercising: duplicate (ok, pk)
        rows (distinct-order support semantics), singleton baskets,
        baskets with infrequent items filtered mid-basket, and pairs
        straddling the support threshold."""
        import itertools

        from columnar_estimator_sample_spark.operators.basket import (
            frequent_pair_supports,
        )
        rows = [  # (order, part) with intra-order duplicates
            (1, 10), (1, 11), (1, 12), (1, 10),
            (2, 10), (2, 11), (2, 13),
            (3, 10), (3, 11), (3, 12),
            (4, 12), (4, 13), (4, 13),
            (5, 10), (5, 99),          # 99 infrequent -> filtered
            (6, 11), (6, 12),
            (7, 14),                   # singleton basket
            (8, 13), (8, 10),
        ]
        item_minsup, pair_minsup = 3, 2
        baskets: dict = {}
        for ok, pk in rows:
            baskets.setdefault(ok, set()).add(pk)
        supp: dict = {}
        for pk in {p for _, p in rows}:
            supp[pk] = sum(1 for b in baskets.values() if pk in b)
        freq_want = {p: c for p, c in supp.items() if c >= item_minsup}
        pair_want: dict = {}
        for b in baskets.values():
            fb = sorted(p for p in b if p in freq_want)
            for u, v in itertools.combinations(fb, 2):
                pair_want[(u, v)] = pair_want.get((u, v), 0) + 1
        pair_want = {k: v for k, v in pair_want.items()
                     if v >= pair_minsup}

        li = spark.createDataFrame(rows, ["ok", "pk"])
        pairs, freq = frequent_pair_supports(li, item_minsup, pair_minsup)
        got_pairs = {(r.u, r.v): r.support for r in pairs.collect()}
        got_freq = {r.pk: r.c for r in freq.collect()}
        assert got_freq == freq_want
        assert got_pairs == pair_want
        # the fixture must exercise every edge it claims to
        assert 99 not in got_freq and 14 not in got_freq
        assert any(v == pair_minsup for v in pair_want.values())
        assert len(pair_want) >= 2

    def test_support_and_ordering(self, spark, sf_dir):
        rows = q_copurchase(spark, sf_dir).collect()
        assert rows
        sups = [r.support for r in rows]
        assert sups == sorted(sups, reverse=True)
        for r in rows:
            assert r.support >= PAIR_MINSUP
            assert r.part_a < r.part_b
            assert r.lift_pm > 0


class TestEmbedCentroids:
    def test_membership_consistency(self, spark, sf_dir):
        rows = q_embed_centroids(spark, sf_dir).collect()
        emb = table(spark, sf_dir, "embeddings")
        n_total = emb.count()
        dim = emb.select(F.max(F.size("embedding"))).collect()[0][0]
        by_label: dict = {}
        for r in rows:
            by_label.setdefault(r.label, set()).add((r.dim, r.n_vecs))
        seen_total = 0
        for label, cells in by_label.items():
            ns = {n for _, n in cells}
            assert len(ns) == 1          # same member count on every dim
            assert len(cells) == dim     # every dimension present
            seen_total += ns.pop()
        assert seen_total == n_total     # labels partition the table
        for r in rows:
            assert abs(r.centroid_scaled) <= 1_000_000


class TestHypertableRollup:
    def test_day_equals_sum_of_hours(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.timeseries import (
            US_PER_DAY, US_PER_HOUR, q_hypertable_rollup)
        rows = q_hypertable_rollup(spark, sf_dir).collect()
        res = {"hour": {}, "day": {}}
        for r in rows:
            res[r.resolution][(r.bucket_start_us, r.event_type)] = r.n
        # every hourly bucket rolls up into exactly one daily bucket and
        # the daily n is the sum of its hours
        from collections import defaultdict
        agg = defaultdict(int)
        for (b, et), n in res["hour"].items():
            agg[(b // US_PER_DAY * US_PER_DAY, et)] += n
        assert dict(agg) == res["day"]


class TestRollingActive:
    def test_wau_bounds(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.timeseries import (
            q_rolling_active)
        rows = q_rolling_active(spark, sf_dir).collect()
        assert rows, "expected at least one observed day"
        by_day = {r.day: r for r in rows}
        daus = [r.dau for r in rows]
        for i, r in enumerate(rows):
            assert r.wau7 >= r.dau          # superset of today's actives
            assert r.wau7 <= sum(daus[max(0, i - 6):i + 1])  # union bound
        assert len(by_day) == len(rows)     # one row per day


class TestEventTransitions:
    def test_rows_are_probabilities(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.events import (
            q_event_transitions)
        rows = q_event_transitions(spark, sf_dir).collect()
        from collections import defaultdict
        per_src_pm = defaultdict(int)
        per_src_n = defaultdict(int)
        for r in rows:
            assert r.n >= 1 and 0 <= r.p_permille <= 1000
            per_src_pm[r.src] += r.p_permille
            per_src_n[r.src] += r.n
        # floor-division shares sum to <= 1000 and within |dsts| of it
        for src, pm in per_src_pm.items():
            assert 1000 - 25 <= pm <= 1000
        # transition count conservation: total transitions = events - users
        ev = table(spark, sf_dir, "events")
        n_events = ev.count()
        n_users = ev.select("user_id").distinct().count()
        assert sum(per_src_n.values()) == n_events - n_users


class TestDocLMScore:
    def test_scores_bounded_and_ordered(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.textstats import (
            q_doc_lm_score)
        rows = q_doc_lm_score(spark, sf_dir).collect()
        assert 0 < len(rows) <= 15
        scores = [r.lm_score_permille for r in rows]
        assert scores == sorted(scores)
        for r in rows:
            # mean of permille transition probs stays in (0, 1000]
            assert 0 <= r.lm_score_permille <= 1000
            assert r.n_bigrams >= 1


class TestCorpusMixtures:
    def test_temperature_flattens_the_mixture(self, spark, sf_dir):
        """alpha=0.5 weights must compress the spread: up-weight tail
        sources (boost > 1000) and down-weight head sources."""
        from columnar_estimator_sample_spark.operators.corpus import (
            q_source_temperature)
        rows = q_source_temperature(spark, sf_dir).collect()
        assert len(rows) >= 2
        total_w = sum(r.temp_w_permille for r in rows)
        assert 1000 - len(rows) <= total_w <= 1000   # floor-division slack
        head = max(rows, key=lambda r: r.n_tokens)
        tail = min(rows, key=lambda r: r.n_tokens)
        if head.n_tokens > tail.n_tokens:
            assert head.boost_permille <= tail.boost_permille

    def test_overlap_jaccard_bounds(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.corpus import (
            q_source_overlap)
        rows = q_source_overlap(spark, sf_dir).collect()
        for r in rows:
            assert r.src_a < r.src_b
            assert 0 <= r.jaccard_permille <= 1000
            assert r.n_common >= 1

    def test_hapax_bounds(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.textstats import (
            q_hapax_share)
        for r in q_hapax_share(spark, sf_dir).collect():
            # synthetic text has a tiny vocab -> hapax may be 0
            assert 0 <= r.hapax_count <= r.vocab_size <= r.n_tokens
            assert 0 <= r.hapax_permille <= 1000


class TestActivityLorenz:
    def test_lorenz_dominance_and_gini_bounds(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.events import (
            q_activity_lorenz)
        rows = q_activity_lorenz(spark, sf_dir).collect()
        assert rows
        ginis = {r.gini_permille for r in rows}
        assert len(ginis) == 1
        g = ginis.pop()
        assert 0 <= g <= 1000
        prev_u = prev_e = 0
        for r in rows:
            # walking least->most active: event share lags user share
            assert r.cum_events_permille <= r.cum_users_permille
            assert r.cum_users_permille >= prev_u
            assert r.cum_events_permille >= prev_e
            prev_u, prev_e = r.cum_users_permille, r.cum_events_permille
        # both curves terminate at 100% (floor-division slack of 1)
        assert prev_u >= 999 and prev_e >= 999


class TestLengthPercentiles:
    def test_monotone_and_within_range(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.textstats import (
            q_length_percentiles)
        from pyspark.sql import functions as F2
        rows = q_length_percentiles(spark, sf_dir).collect()
        assert rows
        docs = table(spark, sf_dir, "documents")
        bounds = {r.lang: (r.mn, r.mx) for r in
                  docs.groupBy("lang")
                  .agg(F2.min("n_chars").alias("mn"),
                       F2.max("n_chars").alias("mx")).collect()}
        for r in rows:
            mn, mx = bounds[r.lang]
            assert mn <= r.p50_len <= r.p90_len <= r.p99_len <= mx


class TestGrowthAccounting:
    def test_dau_identity_and_user_conservation(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.events import (
            q_growth_accounting)
        rows = q_growth_accounting(spark, sf_dir).collect()
        assert rows
        n_users = (table(spark, sf_dir, "events")
                   .select("user_id").distinct().count())
        assert sum(r.n_new for r in rows) == n_users  # everyone new once
        by_day = {r.day: r for r in rows}
        for r in rows:
            assert r.n_active == r.n_new + r.n_retained + r.n_resurrected
            prev = by_day.get(r.day - 1)
            prev_active = prev.n_active if prev else 0
            assert 0 <= r.n_retained <= max(prev_active, 0)
            assert r.n_churned == prev_active - r.n_retained


class TestShipLatency:
    def test_percentiles_ordered(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.relational4 import (
            q_ship_latency)
        rows = q_ship_latency(spark, sf_dir).collect()
        assert rows
        n_li = table(spark, sf_dir, "lineitem").count()
        assert sum(r.n_items for r in rows) == n_li
        for r in rows:
            assert 0 <= r.p50_days <= r.p90_days <= r.p99_days <= r.max_days


class TestDistributionDrift:
    def test_shares_and_tvd_consistency(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.events import (
            q_distribution_drift)
        rows = q_distribution_drift(spark, sf_dir).collect()
        assert rows
        tvds = {r.tvd_permille for r in rows}
        assert len(tvds) == 1
        tvd = tvds.pop()
        assert 0 <= tvd <= 1000
        # TVD upper-bounds half the sum of |share deltas| up to floor slack
        l1 = sum(abs(r.delta_permille) for r in rows)
        assert abs(tvd - l1 // 2) <= len(rows) + 1
        s1 = sum(r.share_first_permille for r in rows)
        s2 = sum(r.share_second_permille for r in rows)
        assert 1000 - len(rows) <= s1 <= 1000
        assert 1000 - len(rows) <= s2 <= 1000


class TestRFM:
    def test_scores_in_range_and_population_conserved(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.relational4 import (
            RFM_TOP, q_rfm_segments)
        rows = q_rfm_segments(spark, sf_dir).collect()
        assert 0 < len(rows) <= RFM_TOP
        for r in rows:
            assert 1 <= r.r_score <= 5
            assert 1 <= r.f_score <= 5
            assert 1 <= r.m_score <= 5
            assert r.n_customers >= 1 and r.segment_cents > 0
        pops = [r.n_customers for r in rows]
        assert pops == sorted(pops, reverse=True)


class TestEventPaths:
    def test_path_count_conservation(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.events import (
            q_event_paths)
        rows = q_event_paths(spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert r.path.count(" > ") == 2
            assert r.n >= 1 and 0 <= r.share_permille <= 1000
        ns = [r.n for r in rows]
        assert ns == sorted(ns, reverse=True)


class TestMaxConcurrency:
    def test_peak_bounded_by_users_and_sessions(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.events import (
            q_max_concurrency)
        row = q_max_concurrency(spark, sf_dir).collect()[0]
        n_users = (table(spark, sf_dir, "events")
                   .select("user_id").distinct().count())
        # one active session per user at any instant (gap rule)
        assert 1 <= row.max_concurrent <= n_users
        assert row.n_sessions >= row.max_concurrent
        assert row.at_us > 0


class TestDecayEngagement:
    def test_decay_dominates_raw_recency(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.events import (
            DECAY_TOP, q_decay_engagement)
        rows = q_decay_engagement(spark, sf_dir).collect()
        assert 0 < len(rows) <= DECAY_TOP
        for r in rows:
            # decayed score can never exceed undecayed activity
            assert 0 <= r.score_milli <= 1000 * r.n_events
        scores = [r.score_milli for r in rows]
        assert scores == sorted(scores, reverse=True)


class TestKWIC:
    def test_context_counts_conserve(self, spark, sf_dir):
        import pyspark.sql.functions as F2
        from columnar_estimator_sample_spark.operators.textstats import (
            KWIC_TERM, KWIC_TOP, q_kwic)
        rows = q_kwic(spark, sf_dir).collect()
        total_hits = (table(spark, sf_dir, "documents")
                      .select(F2.explode(F2.split("text", " "))
                              .alias("tok"))
                      .filter(F2.col("tok") == KWIC_TERM).count())
        assert sum(r.n for r in rows) <= total_hits
        if len(rows) < KWIC_TOP:     # un-truncated: exact conservation
            assert sum(r.n for r in rows) == total_hits
        for r in rows:
            assert r.term == KWIC_TERM and r.n >= 1


class TestLargestRemainder:
    def test_allocations_sum_exactly(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.relational4 import (
            PRORATE_MILLS, q_largest_remainder)
        rows = q_largest_remainder(spark, sf_dir).collect()
        assert rows
        for r in rows:
            # the whole point: zero drift, for every order size
            assert r.total_mills == PRORATE_MILLS * r.n_orders
            assert 0 <= r.min_item_mills <= r.max_item_mills <= PRORATE_MILLS


class TestWeightedMedian:
    def test_weighted_median_splits_mass(self, spark, sf_dir):
        import pyspark.sql.functions as F2
        from columnar_estimator_sample_spark.operators.relational2 import (
            q_weighted_median)
        rows = q_weighted_median(spark, sf_dir).collect()
        assert rows
        li = (table(spark, sf_dir, "lineitem")
              .select("l_returnflag",
                      F2.expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2))"
                              " * 100 AS BIGINT)").alias("cents"),
                      F2.expr("CAST(CAST(l_quantity AS DECIMAL(18,2))"
                              " AS BIGINT)").alias("q")).collect())
        for r in rows:
            below = sum(x.q for x in li if x.l_returnflag == r.flag
                        and x.cents < r.wmedian_cents)
            upto = sum(x.q for x in li if x.l_returnflag == r.flag
                       and x.cents <= r.wmedian_cents)
            # lower weighted median: mass strictly below < half <= mass upto
            assert 2 * below < r.total_weight <= 2 * upto


class TestSkyline:
    def test_frontier_is_mutually_nondominated_and_complete(
            self, spark, sf_dir):
        import pyspark.sql.functions as F2
        from columnar_estimator_sample_spark.operators.relational2 import (
            q_skyline_parts)
        sky = q_skyline_parts(spark, sf_dir).collect()
        assert sky
        pts = [(r.price_cents, r.max_qty) for r in sky]
        # frontier is strictly decreasing in qty as price rises
        for (p1, q1), (p2, q2) in zip(pts, pts[1:]):
            assert p1 < p2 and q1 > q2
        # no non-frontier point dominates a frontier point
        allp = (table(spark, sf_dir, "lineitem")
                .groupBy("l_partkey")
                .agg(F2.expr("MIN(CAST(CAST(l_extendedprice AS"
                             " DECIMAL(18,2)) * 100 AS BIGINT))")
                     .alias("p"),
                     F2.expr("MAX(CAST(CAST(l_quantity AS DECIMAL(18,2))"
                             " AS BIGINT))").alias("q")).collect())
        for sp, sq in pts:
            for r in allp:
                dominated = (r.p <= sp and r.q >= sq
                             and (r.p < sp or r.q > sq))
                assert not dominated, (sp, sq, r)


class TestPhraseAndStreaks:
    def test_phrase_counts_bounded_by_term_counts(self, spark, sf_dir):
        import pyspark.sql.functions as F2
        from columnar_estimator_sample_spark.operators.ranking import (
            PHRASE, q_phrase_search)
        rows = q_phrase_search(spark, sf_dir).collect()
        if not rows:
            return  # tiny SF may lack the phrase entirely
        docs = table(spark, sf_dir, "documents")
        for r in rows[:3]:
            text = (docs.filter(F2.col("doc_id") == r.doc_id)
                    .collect()[0]["text"])
            toks = text.split(" ")
            direct = sum(1 for i in range(len(toks) - 1)
                         if toks[i] == PHRASE[0] and toks[i+1] == PHRASE[1])
            assert r.n_phrase == direct

    def test_streaks_are_consecutive_runs(self, spark, sf_dir):
        import pyspark.sql.functions as F2
        from columnar_estimator_sample_spark.operators.events import (
            US_PER_DAY, q_longest_streak)
        rows = q_longest_streak(spark, sf_dir).collect()
        assert rows
        for r in rows[:3]:
            days = {x.day for x in
                    (table(spark, sf_dir, "events")
                     .filter(F2.col("user_id") == r.user_id)
                     .selectExpr(f"CAST(us div {US_PER_DAY} AS BIGINT)"
                                 " AS day").distinct().collect())}
            # the reported streak really is present and maximal-ish
            assert all(r.start_day + i in days
                       for i in range(r.streak_days))
            assert r.start_day - 1 not in days
            assert r.start_day + r.streak_days not in days


class TestCohortLTV:
    def test_curves_monotone_and_users_partition(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.events import (
            q_cohort_ltv)
        rows = q_cohort_ltv(spark, sf_dir).collect()
        assert rows
        n_users = (table(spark, sf_dir, "events")
                   .select("user_id").distinct().count())
        sizes = {}
        by_cohort: dict = {}
        for r in rows:
            sizes[r.cohort_week] = r.n_users
            by_cohort.setdefault(r.cohort_week, []).append(r)
        assert sum(sizes.values()) == n_users
        for cw, rs in by_cohort.items():
            lt = [r.cum_ltv_cents_per_user
                  for r in sorted(rs, key=lambda r: r.week_offset)]
            assert lt == sorted(lt)          # cumulative -> monotone
            assert rs[0].week_offset == 0    # every cohort starts at 0


class TestAutocomplete:
    def test_top_shares_and_prefix_consistency(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.textstats import (
            AC_PREFIX_LEN, AC_TOP, q_autocomplete)
        rows = q_autocomplete(spark, sf_dir).collect()
        assert 0 < len(rows) <= AC_TOP
        for r in rows:
            assert len(r.prefix) == AC_PREFIX_LEN
            assert r.top_completion.startswith(r.prefix)
            assert r.n_completions >= 1
            assert 0 < r.top_share_permille <= 1000


class TestMarkovStationary:
    def test_mass_approximately_conserved(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.events import (
            PPM, q_markov_stationary)
        rows = q_markov_stationary(spark, sf_dir).collect()
        assert rows
        total = sum(r.stationary_ppm for r in rows)
        # floor per multiply loses a little mass, never gains
        assert PPM - 1000 * len(rows) <= total <= PPM
        for r in rows:
            assert 0 <= r.stationary_ppm <= PPM


class TestFunnelLatency:
    def test_percentiles_ordered_and_counts_match(self, spark, sf_dir):
        import pyspark.sql.functions as F2
        from columnar_estimator_sample_spark.operators.events import (
            q_funnel_latency)
        rows = q_funnel_latency(spark, sf_dir).collect()
        assert len(rows) == 1
        r = rows[0]
        assert 0 <= r.p50_seconds <= r.p90_seconds <= r.max_seconds
        ev = table(spark, sf_dir, "events")
        firsts = (ev.groupBy("user_id")
                  .agg(F2.min(F2.when(F2.col("event_type") == "view",
                                      F2.col("us"))).alias("v"),
                       F2.min(F2.when(F2.col("event_type") == "purchase",
                                      F2.col("us"))).alias("b")))
        n = (firsts.filter("v IS NOT NULL AND b IS NOT NULL AND b >= v")
             .count())
        assert r.n_converted == n


class TestPriceIndex:
    def test_index_positive_and_parts_bounded(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.relational3 import (
            q_price_index)
        r = q_price_index(spark, sf_dir).collect()[0]
        n_parts = (table(spark, sf_dir, "lineitem")
                   .select("l_partkey").distinct().count())
        assert 1 <= r.n_parts <= n_parts
        assert r.laspeyres_permille > 0


class TestTokenColocation:
    def test_lift_bounds_and_ordering(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.textstats import (
            COLOC_TOP, q_token_colocation)
        rows = q_token_colocation(spark, sf_dir).collect()
        assert 0 < len(rows) <= COLOC_TOP
        lifts = [r.lift_permille for r in rows]
        assert lifts == sorted(lifts, reverse=True)
        for r in rows:
            assert r.tok_a < r.tok_b
            assert r.n_both >= 1
            assert r.lift_permille >= 0


class TestBounceRate:
    def test_session_totals_match_sessionize(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.events import (
            q_bounce_rate, q_sessionize)
        rows = q_bounce_rate(spark, sf_dir).collect()
        assert rows
        n_sessions = q_sessionize(spark, sf_dir).count()
        assert sum(r.n_sessions for r in rows) == n_sessions
        for r in rows:
            assert 0 <= r.n_bounces <= r.n_sessions
            assert 0 <= r.bounce_permille <= 1000


class TestPurchaseIntervals:
    def test_percentiles_ordered_and_counted(self, spark, sf_dir):
        import pyspark.sql.functions as F2
        from columnar_estimator_sample_spark.operators.events import (
            q_purchase_intervals)
        rows = q_purchase_intervals(spark, sf_dir).collect()
        assert len(rows) == 1
        r = rows[0]
        assert 0 <= r.p50_days <= r.p90_days <= r.max_days
        ev = table(spark, sf_dir, "events")
        per_user = (ev.filter(F2.col("event_type") == "purchase")
                    .groupBy("user_id").count().collect())
        expected = sum(x["count"] - 1 for x in per_user if x["count"] > 1)
        assert r.n_intervals == expected


class TestValueMigration:
    def test_matrix_covers_both_half_actives(self, spark, sf_dir):
        import pyspark.sql.functions as F2
        from columnar_estimator_sample_spark.operators.relational4 import (
            q_value_migration)
        rows = q_value_migration(spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert 1 <= r.tier_first <= 3 and 1 <= r.tier_second <= 3
            assert r.n_customers >= 1
        # matrix total == customers with orders in both halves
        orders = table(spark, sf_dir, "orders").select(
            "o_custkey", epoch_us("o_orderdate").alias("us"))
        mn, mx = orders.agg(F2.min("us"), F2.max("us")).first()
        half = orders.select(
            "o_custkey",
            F2.expr(f"CASE WHEN us < ({mn} + {mx}) div 2 THEN 1 ELSE 2 END")
            .alias("h")).distinct()
        both = (half.groupBy("o_custkey").count()
                .filter(F2.col("count") == 2).count())
        assert sum(r.n_customers for r in rows) == both


class TestRevenueMovers:
    def test_movement_ordering_and_rank_validity(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.relational3 import (
            MOVERS_TOP, q_revenue_movers)
        rows = q_revenue_movers(spark, sf_dir).collect()
        assert 0 < len(rows) <= MOVERS_TOP
        moves = [abs(r.rank_gain) for r in rows]
        assert moves == sorted(moves, reverse=True)
        for r in rows:
            assert r.rank_gain == r.rank_first - r.rank_second
            assert r.rank_first >= 1 and r.rank_second >= 1
            assert r.rev_first > 0 and r.rev_second > 0


class TestAssortmentTurnover:
    def test_cohorts_partition_second_half_revenue(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.relational3 import (
            q_assortment_turnover)
        rows = {r.cohort: r
                for r in q_assortment_turnover(spark, sf_dir).collect()}
        assert "carryover" in rows
        shares = sum(r.revenue_permille for r in rows.values())
        assert 1000 - len(rows) <= shares <= 1000
        for r in rows.values():
            assert r.n_parts >= 1 and r.revenue_cents > 0


class TestSegmentMedianOrder:
    def test_medians_within_segment_ranges(self, spark, sf_dir):
        import pyspark.sql.functions as F2
        from columnar_estimator_sample_spark.operators.relational4 import (
            q_segment_median_order)
        rows = q_segment_median_order(spark, sf_dir).collect()
        assert rows
        n_orders = table(spark, sf_dir, "orders").count()
        assert sum(r.n_orders for r in rows) == n_orders
        for r in rows:
            assert r.median_cents > 0


class TestZipfAndARPU:
    def test_zipf_ratios_start_at_unity(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.textstats import (
            ZIPF_TOP, q_zipf_check)
        rows = q_zipf_check(spark, sf_dir).collect()
        assert 0 < len(rows) <= ZIPF_TOP
        assert rows[0].rank == 1 and rows[0].zipf_ratio_permille == 1000
        freqs = [r.freq for r in rows]
        assert freqs == sorted(freqs, reverse=True)
        for r in rows:
            assert r.rf == r.rank * r.freq

    def test_arpu_consistent_with_components(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.events import (
            q_daily_arpu)
        rows = q_daily_arpu(spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert r.dau >= 1
            assert r.arpu_cents == r.revenue_cents // r.dau


class TestLifecycle:
    def test_return_rate_conserves_items(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.relational4 import (
            q_return_rate_segment)
        rows = q_return_rate_segment(spark, sf_dir).collect()
        n_li = table(spark, sf_dir, "lineitem").count()
        assert sum(r.n_items for r in rows) == n_li
        for r in rows:
            assert 0 <= r.n_returned <= r.n_items
            assert 0 <= r.return_permille <= 1000

    def test_dormancy_partitions_users(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.events import (
            q_dormancy_segments)
        rows = q_dormancy_segments(spark, sf_dir).collect()
        n_users = (table(spark, sf_dir, "events")
                   .select("user_id").distinct().count())
        assert sum(r.n_users for r in rows) == n_users
        shares = sum(r.share_permille for r in rows)
        assert 1000 - len(rows) <= shares <= 1000


class TestTrimmedMean:
    def test_trim_bounds_and_robust_center(self, spark, sf_dir):
        import pyspark.sql.functions as F2
        from columnar_estimator_sample_spark.operators.relational2 import (
            TRIM_PCT, q_trimmed_mean)
        rows = q_trimmed_mean(spark, sf_dir).collect()
        assert rows
        mm = (table(spark, sf_dir, "lineitem")
              .groupBy("l_returnflag")
              .agg(F2.expr("MIN(CAST(CAST(l_extendedprice AS"
                           " DECIMAL(18,2)) * 100 AS BIGINT))").alias("lo"),
                   F2.expr("MAX(CAST(CAST(l_extendedprice AS"
                           " DECIMAL(18,2)) * 100 AS BIGINT))").alias("hi"))
              .collect())
        bounds = {r.l_returnflag: (r.lo, r.hi) for r in mm}
        for r in rows:
            lo, hi = bounds[r.flag]
            assert lo <= r.trimmed_mean_cents <= hi
            cut = (r.n_total * TRIM_PCT) // 100
            assert r.n_kept == r.n_total - 2 * cut


class TestFirstOrderPredictiveness:
    def test_quintiles_partition_and_first_rises(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.relational4 import (
            q_first_order_predictiveness)
        rows = q_first_order_predictiveness(spark, sf_dir).collect()
        assert 1 <= len(rows) <= 5
        n_cust = (table(spark, sf_dir, "orders")
                  .select("o_custkey").distinct().count())
        assert sum(r.n_customers for r in rows) == n_cust
        firsts = [r.avg_first_cents for r in rows]
        assert firsts == sorted(firsts)  # quintiles ordered by definition
        for r in rows:
            assert r.avg_ltv_cents >= r.avg_first_cents  # LTV >= 1st order


class TestItemCF:
    def test_knn_contract(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.basket import (
            CF_TOPN, q_item_cf)
        rows = q_item_cf(spark, sf_dir).collect()
        assert rows
        seen = {}
        for r in rows:
            assert r.item != r.neighbor
            assert 1 <= r.rnk <= CF_TOPN
            assert 0 < r.cos2_ppm <= 1_000_000  # cosine <= 1
            seen.setdefault(r.item, []).append(r)
        for item, rs in seen.items():
            ranks = [r.rnk for r in rs]
            assert ranks == list(range(1, len(rs) + 1))
            scores = [r.cos2_ppm for r in rs]
            assert scores == sorted(scores, reverse=True)


class TestLinearAttribution:
    def test_credit_conservation(self, spark, sf_dir):
        """Total credit must equal exactly 1000 x purchases — the
        largest-remainder invariant."""
        from pyspark.sql import functions as F2
        from columnar_estimator_sample_spark.operators.events import (
            q_attribution_linear)
        from columnar_estimator_sample_spark.sources.tables import table
        rows = q_attribution_linear(spark, sf_dir).collect()
        total = sum(r.credit_total for r in rows)
        n_purchases = (table(spark, sf_dir, "events")
                       .filter(F2.col("event_type") == "purchase").count())
        assert total == 1000 * n_purchases
        assert {r.channel for r in rows} <= {"view", "click", "(none)"}


class TestSequenceMining:
    def test_matches_mllib_prefixspan(self, spark, sf_dir):
        """Every (pattern, support) the engine mines must equal MLlib
        PrefixSpan's frequent single-item sequential patterns of length
        <= 3 at the same minSupport — two independent mining paths
        (min/max-rank joins vs pattern-growth) agreeing exactly."""
        from pyspark.ml.fpm import PrefixSpan
        from columnar_estimator_sample_spark.operators.events import (
            SEQ_MINSUP_PM, q_sequence_mining,
        )
        got = {(r.seq, r.supp)
               for r in q_sequence_mining(spark, sf_dir).collect()}

        ev = table(spark, sf_dir, "events")
        seqs = (ev.orderBy("user_id", "us", "event_id")
                .groupBy("user_id")
                .agg(F.expr(
                    "transform(array_sort(collect_list("
                    "struct(us, event_id, event_type))),"
                    " s -> array(s.event_type))").alias("sequence")))
        ps = PrefixSpan(minSupport=SEQ_MINSUP_PM / 1000.0,
                        maxPatternLength=3,
                        maxLocalProjDBSize=32000000)
        want = {(">".join(it[0] for it in r.sequence), r.freq)
                for r in ps.findFrequentSequentialPatterns(seqs).collect()}
        assert got == want and len(got) > 0


def test_basket_minsups_relative_with_floors(sf_dir):
    """Relative a-priori support (the r10 100x finding made behavior):
    derived thresholds EQUAL the absolute floors at every gate/bench SF
    — static oracles and bench comparability hold byte-exact — and grow
    with the order count beyond, restoring downward-closure pruning at
    scale."""
    from columnar_estimator_sample_spark.operators.basket import (
        ITEM_MINSUP, PAIR_MINSUP, basket_minsups, minsups_for_orders,
    )

    # gate SFs (1.5k / 15k orders) and the sf0.1 bench (150k) -> floors
    for n in (1_500, 15_000, 150_000):
        assert minsups_for_orders(n) == (ITEM_MINSUP, PAIR_MINSUP)
    assert basket_minsups(sf_dir) == (ITEM_MINSUP, PAIR_MINSUP)
    # scale-invariant relative support beyond: sf1 / sf10 equivalents
    assert minsups_for_orders(1_500_000) == (30, 15)
    assert minsups_for_orders(15_000_000) == (300, 150)
    # monotone, never below the floors
    prev = (0, 0)
    for n in (1, 10**4, 10**6, 10**8, 10**10):
        i, p = minsups_for_orders(n)
        assert i >= ITEM_MINSUP and p >= PAIR_MINSUP
        assert (i, p) >= prev
        prev = (i, p)
