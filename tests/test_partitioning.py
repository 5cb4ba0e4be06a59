"""Bucketing / salting / co-partitioning behavior tests: assert the
shuffle economics, not just the results."""

from __future__ import annotations

import pyspark.sql.functions as F


def final_plan(df):
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString() \
        .split("== Initial Plan ==")[0]


class TestBucketing:
    def test_bucketed_join_has_no_shuffle(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.partitioning import (
            bucketed_ctas,
        )
        from columnar_estimator_sample_spark.sources.tables import table
        li = table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice")
        orders = table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice")
        bucketed_ctas(spark, "li_bkt", li, "l_orderkey", 8)
        bucketed_ctas(spark, "ord_bkt", orders, "o_orderkey", 8)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = spark.table("li_bkt").join(
                spark.table("ord_bkt"),
                F.col("l_orderkey") == F.col("o_orderkey"))
            plan = final_plan(j)
            assert "Exchange hashpartitioning" not in plan, plan
            # and the same join WITHOUT bucketing does shuffle
            j2 = li.join(orders, li.l_orderkey == orders.o_orderkey)
            assert "Exchange hashpartitioning" in final_plan(j2)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                           str(64 * 1024 * 1024))
            spark.sql("DROP TABLE li_bkt")
            spark.sql("DROP TABLE ord_bkt")

    def test_ivf_assignment_bucketed_probe(self, spark, sf_dir):
        """Substantiates the IVF scale claim (similarity.q_ann_ivf_topk
        docstring: "at 100 TB the assignment table is written bucketed
        BY centroid_id, so the probe prunes partitions"): the coarse
        assignment persisted via bucketed_ctas on centroid_id joins the
        probe list with NO exchange on the assignment side, and the
        probe-joined candidate set matches the in-memory plan's."""
        from columnar_estimator_sample_spark.operators.partitioning import (
            bucketed_ctas,
        )
        from columnar_estimator_sample_spark.operators.similarity import (
            IVF_NPROBE, N_QUERIES, _ivf_cells,
        )
        ranked, _, _ = _ivf_cells(spark, sf_dir)
        assign = (ranked.filter(F.col("rnk") == 1)
                  .select("vec_id", "centroid_id"))
        probes = (ranked.filter((F.col("vec_id") < N_QUERIES)
                                & (F.col("rnk") <= IVF_NPROBE))
                  .select(F.col("vec_id").alias("query_id"),
                          "centroid_id"))
        bucketed_ctas(spark, "ivf_assign_bkt", assign, "centroid_id", 8)
        bucketed_ctas(spark, "ivf_probe_bkt", probes, "centroid_id", 8)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = (spark.table("ivf_probe_bkt")
                 .join(spark.table("ivf_assign_bkt"), "centroid_id"))
            assert "Exchange hashpartitioning" not in final_plan(j)
            mem = {(r["query_id"], r["vec_id"])
                   for r in probes.join(assign, "centroid_id").collect()}
            got = {(r["query_id"], r["vec_id"]) for r in j.collect()}
            assert got == mem and len(got) > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                           str(64 * 1024 * 1024))
            spark.sql("DROP TABLE ivf_assign_bkt")
            spark.sql("DROP TABLE ivf_probe_bkt")

    def test_bucketed_join_correct(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.partitioning import (
            bucketed_ctas,
        )
        from columnar_estimator_sample_spark.sources.tables import table
        li = table(spark, sf_dir, "lineitem").select("l_orderkey")
        bucketed_ctas(spark, "li_bkt2", li, "l_orderkey", 4)
        try:
            assert spark.table("li_bkt2").count() == li.count()
        finally:
            spark.sql("DROP TABLE li_bkt2")


class TestSalting:
    def test_salted_join_matches_plain_join(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.partitioning import (
            salted_join,
        )
        from columnar_estimator_sample_spark.sources.tables import table
        li = table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity")
        orders = table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("l_orderkey"), "o_totalprice")
        plain = (li.join(orders, "l_orderkey")
                 .agg(F.count(F.lit(1)), F.sum("l_quantity"),
                      F.sum("o_totalprice")).collect()[0])
        salted = (salted_join(li, orders, "l_orderkey", n_salts=4)
                  .agg(F.count(F.lit(1)), F.sum("l_quantity"),
                       F.sum("o_totalprice")).collect()[0])
        assert plain == salted

    def test_salted_join_spreads_hot_key(self, spark):
        from columnar_estimator_sample_spark.operators.partitioning import (
            salted_join,
        )
        # pathological: one key carries 90% of the big side
        big = spark.range(10_000).select(
            F.when(F.col("id") < 9_000, 1).otherwise(F.col("id"))
            .alias("k"), F.col("id").alias("v"))
        small = spark.range(10_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
        out = salted_join(big, small, "k", n_salts=8)
        assert out.count() == 10_000  # every big row matched exactly once
        # the per-row salt actually scatters the hot key: its 9k rows must
        # touch every one of the 8 (key, salt) buckets
        dist = (big.withColumn(
            "__salt", F.pmod(F.monotonically_increasing_id(), F.lit(8)))
            .filter(F.col("k") == 1)
            .select("__salt").distinct().count())
        assert dist == 8
        # smoke: different n_salts give identical results
        a = salted_join(big, small, "k", n_salts=2).count()
        b = salted_join(big, small, "k", n_salts=16).count()
        assert a == b == 10_000

    def test_salted_join_rejects_outer(self, spark):
        import pytest as _pytest
        from columnar_estimator_sample_spark.operators.partitioning import (
            salted_join,
        )
        df = spark.range(4).select(F.col("id").alias("k"))
        with _pytest.raises(ValueError):
            salted_join(df, df, "k", how="full")


class TestSkewProfile:
    def test_skew_profile_orders(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.partitioning import (
            skew_profile,
        )
        from columnar_estimator_sample_spark.sources.tables import table
        prof = skew_profile(table(spark, sf_dir, "lineitem"),
                            "l_orderkey", top=5).collect()
        assert len(prof) == 5
        assert all(0 < r["share"] < 1 for r in prof)
        assert prof[0]["n_rows"] >= prof[-1]["n_rows"]


class TestAQESkewJoin:
    def test_aqe_splits_skewed_partition(self, spark):
        """A hot key large enough (with test-scaled thresholds) must make
        AQE's skew-join split the pathological partition: the executed
        plan carries SortMergeJoin(skew=true) and a skewed AQEShuffleRead.
        This is the runtime half of the skew toolkit (salted_join is the
        deterministic fallback)."""
        confs = {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
                "16KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        }
        saved = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            big = spark.range(400_000).select(
                F.when(F.col("id") < 360_000, F.lit(1))
                .otherwise(F.col("id")).alias("k"),
                F.lpad(F.lit("x"), 32, "y").alias("pad"))
            small = spark.range(50_000).select(
                F.col("id").alias("k"),
                F.col("id").cast("double").alias("w"))
            j = big.join(small, "k")
            # execute THIS query execution (df.count() builds another one)
            plan_obj = j._jdf.queryExecution().executedPlan()
            n = plan_obj.execute().count()
            # only the hot key matches the small side (ids >= 360k don't)
            assert n == 360_000
            plan = plan_obj.toString()
            assert "SortMergeJoin(skew=true)" in plan
            assert "skewed" in plan  # AQEShuffleRead ... skewed
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


class TestZOrderLayout:
    def test_zorder_bounds_both_dims(self, spark, sf_dir):
        """Z-order buckets keep BOTH dimensions narrow; a single-column
        sort leaves the other dimension near full range — the property
        that makes z-ordering prune files on either predicate."""
        from columnar_estimator_sample_spark.operators.partitioning import (
            q_zorder_layout)
        rows = {r.layout: r for r in q_zorder_layout(spark, sf_dir).collect()}
        z, s = rows["zorder"], rows["single_dim"]
        assert z.n_buckets > 1 and s.n_buckets > 1
        # the second dimension is dramatically tighter under z-order
        assert z.avg_span_y_pm < s.avg_span_y_pm
        # and the z-layout's spans are balanced across dims
        assert z.avg_span_x_pm < 1000 and z.avg_span_y_pm < 1000


def _lineitem_day_cents(spark, sf_dir):
    """lineitem as (ship day since epoch, extended price in cents)."""
    from columnar_estimator_sample_spark.operators.events import US_PER_DAY
    from columnar_estimator_sample_spark.sources.tables import epoch_us, table
    return table(spark, sf_dir, "lineitem").select(
        epoch_us("l_shipdate").alias("us"),
        F.expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100"
               " AS BIGINT)").alias("cents")).select(
        F.expr(f"CAST(us div {US_PER_DAY} AS BIGINT)").alias("day"),
        "cents")


class TestMaterializedRollup:
    def test_weekly_answers_from_daily_mv(self, spark, sf_dir):
        """Warehouse MV pattern: materialize the daily revenue rollup
        once (CTAS), then answer the weekly question FROM the rollup —
        results must equal recomputing from the raw fact table, because
        SUM re-aggregates losslessly. This is the query-rewrite contract
        a 100 TB deployment leans on: the MV is days-sized, the fact
        table is not."""
        from pyspark.sql import functions as F
        from columnar_estimator_sample_spark.sources.io import ctas
        li = _lineitem_day_cents(spark, sf_dir)
        daily = (li.groupBy("day")
                 .agg(F.sum("cents").alias("rev"),
                      F.count("*").cast("long").alias("n")))
        mv = ctas(spark, "mv_daily_revenue", daily)
        try:
            weekly_mv = (mv.groupBy(F.expr("day div 7").alias("week"))
                         .agg(F.sum("rev").alias("rev"),
                              F.sum("n").alias("n")))
            weekly_raw = (li.groupBy(F.expr("day div 7").alias("week"))
                          .agg(F.sum("cents").alias("rev"),
                               F.count("*").cast("long").alias("n")))
            a = {r.week: (r.rev, r.n) for r in weekly_mv.collect()}
            b = {r.week: (r.rev, r.n) for r in weekly_raw.collect()}
            assert a == b and len(a) > 3
        finally:
            spark.sql("DROP TABLE IF EXISTS mv_daily_revenue")

    def test_incremental_rollup_maintenance(self, spark, sf_dir):
        """Incremental view maintenance: apply one 'new day' of fact
        rows as a DELTA aggregate merged into the materialized daily
        rollup (SUM/COUNT merge by addition), and the maintained MV must
        equal a full recompute over old+new. This is the nightly-load
        path: touch only the affected MV rows, never rescan history."""
        from pyspark.sql import functions as F
        base = _lineitem_day_cents(spark, sf_dir)
        cut = base.agg(F.max("day")).collect()[0][0]  # last day = "new"
        old = base.filter(F.col("day") < cut)
        new = base.filter(F.col("day") >= cut)

        def rollup(df):
            return (df.groupBy("day")
                    .agg(F.sum("cents").alias("rev"),
                         F.count("*").cast("long").alias("n")))

        mv = rollup(old)
        delta = rollup(new)
        # additive merge: full outer on day, SUM the partials
        maintained = (mv.alias("t").join(delta.alias("s"), "day", "full")
                      .select("day",
                              (F.coalesce("t.rev", F.lit(0))
                               + F.coalesce("s.rev", F.lit(0))).alias("rev"),
                              (F.coalesce("t.n", F.lit(0))
                               + F.coalesce("s.n", F.lit(0))).alias("n")))
        full = rollup(base)
        a = {r.day: (r.rev, r.n) for r in maintained.collect()}
        b = {r.day: (r.rev, r.n) for r in full.collect()}
        assert a == b


class TestSkewSaltedJoinQuery:
    def test_plan_joins_on_salt_not_broadcast(self, spark, sf_dir):
        """The registered query must exercise the SHUFFLED salted regime:
        the fact⋈dim join keys include __salt and that join is NOT a
        BroadcastHashJoin (the shuffle_hash hint pins it — under
        broadcast the salt would be decorative)."""
        from columnar_estimator_sample_spark.operators.partitioning import (
            q_skew_salted_join,
        )
        plan = (q_skew_salted_join(spark, sf_dir)
                ._jdf.queryExecution().executedPlan().toString())
        shj = [ln for ln in plan.splitlines() if "ShuffledHashJoin" in ln]
        assert shj and any("__salt" in ln for ln in shj), plan
        assert "BroadcastHashJoin" in plan  # the nation attach stays bcast

    def test_matches_plain_join(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.partitioning import (
            q_skew_salted_join,
        )
        from columnar_estimator_sample_spark.sources.tables import table

        got = {r.n_name: (r.n_items, round(r.revenue, 6))
               for r in q_skew_salted_join(spark, sf_dir).collect()}
        li = table(spark, sf_dir, "lineitem")
        sup = table(spark, sf_dir, "supplier")
        nat = table(spark, sf_dir, "nation")
        plain = (li.join(sup, li.l_suppkey == sup.s_suppkey)
                 .join(nat, sup.s_nationkey == nat.n_nationkey)
                 .groupBy("n_name")
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.sum(F.col("l_extendedprice")
                            * (1 - F.col("l_discount"))).alias("rev")))
        want = {r.n_name: (r.n, round(r.rev, 6)) for r in plain.collect()}
        assert set(got) == set(want)
        for k in want:
            assert got[k][0] == want[k][0]
            assert abs(got[k][1] - want[k][1]) < 1e-3
