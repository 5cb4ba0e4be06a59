"""Streaming tier + IO layer tests.

The streaming contract: every streaming aggregation must reproduce its
batch twin's results when drained with availableNow (deterministic,
terminating)."""

from __future__ import annotations

import json
import os
import tempfile

import pyspark.sql.functions as F
import pyspark.sql.types as T
import pytest


class TestStreaming:
    def test_daily_counts_matches_batch(self, spark, sf_dir):
        from columnar_estimator_sample_spark.registry import queries
        from columnar_estimator_sample_spark.streaming.windows import (
            daily_counts_stream, events_stream, run_to_completion,
        )
        stream = daily_counts_stream(events_stream(spark, sf_dir))
        got = run_to_completion(stream)
        batch = queries()["q_time_buckets"](spark, sf_dir)
        s = {(r["day"], r["event_type"]): (r["n_events"], r["total_value"])
             for r in got.collect()}
        b = {(r["day"], r["event_type"]): (r["n_events"], r["total_value"])
             for r in batch.collect()}
        assert s == b

    def test_session_stream_total_events(self, spark, sf_dir):
        from columnar_estimator_sample_spark.streaming.windows import (
            events_stream, run_to_completion, session_stream,
        )
        got = run_to_completion(
            session_stream(events_stream(spark, sf_dir)))
        # session windows partition all events: totals must be preserved
        n = got.agg(F.sum("n_events")).collect()[0][0]
        from columnar_estimator_sample_spark.sources.tables import table
        assert n == table(spark, sf_dir, "events").count()

    def test_session_stream_matches_batch_sessionize(self, spark, sf_dir):
        """session_window(gap) must produce the same (start_us, n_events)
        session set as the batch gaps-and-islands implementation."""
        from columnar_estimator_sample_spark.registry import queries
        from columnar_estimator_sample_spark.streaming.windows import (
            events_stream, run_to_completion, session_stream,
        )
        got = run_to_completion(
            session_stream(events_stream(spark, sf_dir)))
        s = sorted((r["user_id"], r["start_us"], r["n_events"],
                    r["duration_us"]) for r in got.collect())
        b = sorted((r["user_id"], r["start_us"], r["n_events"],
                    r["duration_us"])
                   for r in queries()["q_sessionize"](spark, sf_dir).collect())
        assert s == b

    def test_stream_dedup_census_matches_batch_distinct(self, spark,
                                                        sf_dir):
        """q_stream_dedup_census (watermarked dropDuplicates -> append
        sink -> census) must equal the batch COUNT DISTINCT per type."""
        from columnar_estimator_sample_spark.registry import queries
        from columnar_estimator_sample_spark.sources.tables import table

        got = sorted(tuple(r) for r in
                     queries()["q_stream_dedup_census"](
                         spark, sf_dir).collect())
        want = sorted(tuple(r) for r in
                      table(spark, sf_dir, "events")
                      .groupBy("event_type")
                      .agg(F.count_distinct("user_id").cast("long")
                           .alias("n_users")).collect())
        assert got == want and len(got) > 0

    def test_dedup_stream(self, spark, sf_dir):
        from columnar_estimator_sample_spark.streaming.windows import (
            dedup_stream, events_stream, run_to_completion,
        )
        got = run_to_completion(
            dedup_stream(events_stream(spark, sf_dir)), "append")
        from columnar_estimator_sample_spark.sources.tables import table
        n_src = table(spark, sf_dir, "events").count()
        assert got.count() == n_src  # event_ids are unique in testdata
        assert got.select("event_id").distinct().count() == n_src


class TestIO:
    def test_csv_defaults(self, spark, tmp_path):
        from columnar_estimator_sample_spark.sources.io import (
            read_csv, schema_defaults,
        )
        p = tmp_path / "in.csv"
        p.write_text("a,b,c\n1,,x\n,2.5,\n")
        schema = T.StructType([
            T.StructField("a", T.LongType()),
            T.StructField("b", T.DoubleType()),
            T.StructField("c", T.StringType()),
        ])
        df = read_csv(spark, str(p), schema, schema_defaults(schema))
        rows = sorted(df.collect(), key=lambda r: (r["a"], r["b"]))
        assert rows[0]["a"] == 0 and rows[0]["b"] == 2.5 and rows[0]["c"] == ""
        assert rows[1]["a"] == 1 and rows[1]["b"] == 0.0 and rows[1]["c"] == "x"

    def test_ndjson_normalize_roundtrip(self, spark, tmp_path):
        from columnar_estimator_sample_spark.sources.io import (
            normalize_json_lines, read_ndjson,
        )
        src = tmp_path / "pretty.json"
        src.write_text(json.dumps([{"x": 1, "y": {"z": "a"}},
                                   {"x": 2, "y": {"z": "b"}}], indent=2))
        dst = tmp_path / "lines.ndjson"
        n = normalize_json_lines(str(src), str(dst))
        assert n == 2
        df = read_ndjson(spark, str(dst))
        assert df.count() == 2
        assert df.select("y.z").orderBy("x").rdd.map(
            lambda r: r[0]).collect() == ["a", "b"]

    def test_provenance_and_glob(self, spark, sf_dir):
        from columnar_estimator_sample_spark.sources.io import (
            read_parquet, with_provenance,
        )
        df = with_provenance(read_parquet(spark, f"{sf_dir}/nation.parquet"))
        files = df.select("_source_file").distinct().collect()
        assert len(files) >= 1
        assert "nation.parquet" in files[0][0]

    def test_ctas_and_write_json(self, spark, sf_dir, tmp_path):
        from columnar_estimator_sample_spark.sources.io import (
            ctas, read_parquet, write_json,
        )
        nation = read_parquet(spark, f"{sf_dir}/nation.parquet")
        tbl = ctas(spark, "nation_ctas_test", nation.filter(
            F.col("n_regionkey") == 0))
        assert tbl.count() == nation.filter(F.col("n_regionkey") == 0).count()
        out = str(tmp_path / "out_json")
        write_json(tbl, out, single_file=True)
        written = [f for f in os.listdir(out) if f.endswith(".json")]
        assert len(written) == 1
        spark.sql("DROP TABLE nation_ctas_test")

    def test_partitioned_write_prunes(self, spark, sf_dir, tmp_path):
        from columnar_estimator_sample_spark.sources.io import (
            read_parquet, write_partitioned_parquet,
        )
        orders = read_parquet(spark, f"{sf_dir}/orders.parquet")
        out = str(tmp_path / "orders_part")
        write_partitioned_parquet(orders, out, ["o_orderstatus"])
        assert sorted(d for d in os.listdir(out)
                      if d.startswith("o_orderstatus=")) == [
            "o_orderstatus=F", "o_orderstatus=O", "o_orderstatus=P"]
        back = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F")
        plan = back._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [isnotnull(o_orderstatus" in plan \
            or back.count() > 0


class TestOrc:
    def test_orc_roundtrip_matches_parquet(self, spark, sf_dir, tmp_path):
        from columnar_estimator_sample_spark.sources.io import (
            read_orc, write_orc,
        )
        from columnar_estimator_sample_spark.sources.tables import table
        src = table(spark, sf_dir, "nation")
        write_orc(src, str(tmp_path / "nation_orc"))
        back = read_orc(spark, str(tmp_path / "nation_orc"))
        assert back.schema == src.schema
        a = sorted(map(tuple, src.collect()))
        b = sorted(map(tuple, back.collect()))
        assert a == b

    def test_orc_partitioned_prunes(self, spark, sf_dir, tmp_path):
        from columnar_estimator_sample_spark.sources.io import (
            read_orc, write_orc,
        )
        from columnar_estimator_sample_spark.sources.tables import table
        src = table(spark, sf_dir, "nation")
        write_orc(src, str(tmp_path / "nat_p"), partition_by=["n_regionkey"])
        scan = read_orc(spark, str(tmp_path / "nat_p")).filter(
            "n_regionkey = 1")
        plan = scan._jdf.queryExecution().executedPlan().toString()
        # partition filter must reach the scan, not a post-filter
        assert "PartitionFilters: [isnotnull(n_regionkey" in plan
        assert scan.count() == src.filter("n_regionkey = 1").count()


class TestStreamStreamJoin:
    def test_view_click_attribution_matches_batch(self, spark, sf_dir):
        from columnar_estimator_sample_spark.streaming.windows import (
            events_stream, run_to_completion, stream_stream_join,
        )
        ev = events_stream(spark, sf_dir)
        views = ev.filter(F.col("event_type") == "view")
        clicks = ev.filter(F.col("event_type") == "click")
        joined = stream_stream_join(views, clicks, within="10 minutes")
        got = run_to_completion(joined, "append")

        # batch twin: same predicate on the static table
        from columnar_estimator_sample_spark.sources.tables import table
        b = table(spark, sf_dir, "events")
        bv = (b.filter("event_type = 'view'")
              .select(F.col("user_id").alias("l_user"),
                      F.col("event_id").alias("l_id"),
                      F.col("us").alias("l_us")))
        bc = (b.filter("event_type = 'click'")
              .select(F.col("user_id").alias("r_user"),
                      F.col("event_id").alias("r_id"),
                      F.col("us").alias("r_us")))
        batch = (bv.join(bc, (F.col("l_user") == F.col("r_user"))
                         & (F.col("r_us") >= F.col("l_us"))
                         & (F.col("r_us") <= F.col("l_us") + 600_000_000))
                 .select("l_user", "l_id", "r_id",
                         (F.col("r_us") - F.col("l_us")).alias("lag_us")))
        assert (sorted(map(tuple, got.collect()))
                == sorted(map(tuple, batch.collect())))
        assert got.count() > 0


class TestStreamingCorpus:
    def test_corpus_ingest_matches_batch(self, spark, sf_dir):
        from columnar_estimator_sample_spark.sources.tables import (
            table_stream,
        )
        from columnar_estimator_sample_spark.streaming.corpus import (
            corpus_ingest_stream,
        )
        from columnar_estimator_sample_spark.streaming.windows import (
            run_to_completion,
        )
        got = run_to_completion(
            corpus_ingest_stream(table_stream(spark, sf_dir, "documents")))
        want = corpus_ingest_stream(
            spark.read.parquet(f"{sf_dir}/documents.parquet"))
        g = {tuple(r) for r in got.collect()}
        w = {tuple(r) for r in want.collect()}
        assert g == w and len(g) > 0

class TestStreamingCascade:
    def test_multi_batch_ledger_equals_batch_cascade(self, spark,
                                                     sf_dir, tmp_path):
        """Stream==batch parity for the quality cascade across REAL
        micro-batch boundaries: the corpus is split into 3 files driven
        one-per-trigger, so the ledger exercises the per-batch partial
        summation; it must equal q_quality_cascade's census on the same
        corpus row-for-row. Requires every doc's verdict to depend only
        on its own content + the static LM model — which is the
        operator's design contract."""
        import pyspark.sql.functions as F
        from columnar_estimator_sample_spark.operators.corpus import (
            q_quality_cascade,
        )
        from columnar_estimator_sample_spark.sources import tables
        from columnar_estimator_sample_spark.streaming.corpus import (
            quality_cascade_stream,
        )
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        sf = str(tmp_path)
        # static corpus (model + batch twin) = the full table
        docs.coalesce(1).write.parquet(f"{sf}/documents.parquet")
        # arrivals = the same rows split across 3 files
        parts = str(tmp_path / "arrivals")
        docs.withColumn("part", F.col("doc_id") % 3) \
            .write.partitionBy("part").parquet(parts)
        stream = (spark.readStream.schema(docs.schema)
                  .option("maxFilesPerTrigger", 1)
                  .parquet(parts + "/part=*"))
        try:
            got = sorted(tuple(r) for r in
                         quality_cascade_stream(spark, sf, stream)
                         .collect())
            want = sorted(tuple(r) for r in
                          q_quality_cascade(spark, sf).collect())
            assert got == want and len(got) > 0
        finally:
            tables.reset_handles()


class TestStreamAnnIngest:
    def test_multi_batch_ingest_equals_batch_face(self, spark, sf_dir,
                                                  tmp_path):
        """Stream==batch parity for IVF maintenance across REAL
        micro-batch boundaries: the arriving 50-vector batch is split
        across 3 files driven one-per-trigger; the stream-maintained
        inverted file must equal the batch face's maintained table
        (and therefore the from-scratch rebuild both certify against)
        row-for-row, phases included."""
        import pyspark.sql.functions as F
        from columnar_estimator_sample_spark.operators.similarity import (
            IVF_INC_BATCH, inc_batch_threshold, ivf_incremental_index,
        )
        from columnar_estimator_sample_spark.sources import tables
        from columnar_estimator_sample_spark.streaming.corpus import (
            ann_ingest_stream,
        )
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        sf = str(tmp_path)
        emb.coalesce(1).write.parquet(f"{sf}/embeddings.parquet")
        thr = inc_batch_threshold(sf)
        arrivals = str(tmp_path / "arrivals")
        (emb.filter(F.col("vec_id") >= thr)
         .withColumn("part", F.col("vec_id") % 3)
         .write.partitionBy("part").parquet(arrivals))
        stream = (spark.readStream.schema(emb.schema)
                  .option("maxFilesPerTrigger", 1)
                  .parquet(arrivals + "/part=*"))
        try:
            got = sorted(tuple(r) for r in
                         ann_ingest_stream(spark, sf, stream).collect())
            want = sorted(tuple(r) for r in
                          ivf_incremental_index(spark, sf).collect())
            assert got == want
            assert sum(1 for _, _, p in got if p == "batch") \
                == IVF_INC_BATCH
        finally:
            tables.reset_handles()


class TestStreamAnnIngestReplay:
    def test_epoch_replay_is_idempotent(self, spark, sf_dir, tmp_path):
        """A streaming retry re-runs the last epoch: landing the same
        epoch's assignment rows again must OVERWRITE its partition, not
        duplicate it — the exactly-once contract of the epoch-
        partitioned dynamic-overwrite sink."""
        import pyspark.sql.functions as F
        from columnar_estimator_sample_spark.operators.similarity import (
            _exploded, _inc_coarse_assign, inc_batch_threshold,
            ivf_nlist_for,
        )
        from columnar_estimator_sample_spark.sources import tables
        from columnar_estimator_sample_spark.sources.tables import table
        from columnar_estimator_sample_spark.streaming.corpus import (
            _ingest_epoch, ann_ingest_stream,
        )
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        sf = str(tmp_path)
        emb.coalesce(1).write.parquet(f"{sf}/embeddings.parquet")
        try:
            drained = ann_ingest_stream(spark, sf)
            before = sorted(tuple(r) for r in drained.collect())
            # rebuild the drain's epoch-0 assignment and re-land it
            nlist = ivf_nlist_for(spark, sf)
            thr = inc_batch_threshold(sf)
            ex = _exploded(table(spark, sf, "embeddings"))
            cex = (ex.filter(F.col("vec_id") < nlist)
                   .select(F.col("vec_id").alias("centroid_id"), "i",
                           F.col("vi").alias("ci")))
            cnorms = cex.groupBy("centroid_id").agg(
                F.sum(F.col("ci") * F.col("ci")).alias("nc_s"))
            replay = _inc_coarse_assign(
                ex.filter(F.col("vec_id") >= thr), cex, cnorms, "batch")
            # deterministic table name (other tests create their own
            # ivf_ings_* tables in the shared session — picking the
            # first listTables() match grabbed a stale one mid-suite)
            name = f"ivf_ings_{tables.table_tag(spark, sf)}"
            # the table itself carries dynamic partition overwrite: the
            # session conf is neither needed nor changed
            mode_key = "spark.sql.sources.partitionOverwriteMode"
            conf_before = spark.conf.get(mode_key, None)
            _ingest_epoch(replay, name, 0)
            _ingest_epoch(replay, name, 0)  # replay of the replay
            assert spark.conf.get(mode_key, None) == conf_before
            spark.catalog.refreshTable(name)
            after = sorted(
                tuple(r) for r in
                spark.table(name)
                .select("vec_id", "centroid_id", "phase").collect())
            assert after == before
        finally:
            tables.reset_handles()


class TestStreamNeardupIngest:
    def test_multi_batch_index_equals_batch_banding(self, spark, sf_dir,
                                                    tmp_path):
        """Stream==batch parity for the LSH band index across REAL
        micro-batch boundaries: the arriving 200-doc batch is split
        across 3 files driven one-per-trigger; the stream-maintained
        band table must equal the full-corpus batch banding
        row-for-row (banding is per-doc independent given the fixed
        hash family)."""
        import pyspark.sql.functions as F
        from columnar_estimator_sample_spark.operators.dedup import (
            minhash_bands,
        )
        from columnar_estimator_sample_spark.sources import tables
        from columnar_estimator_sample_spark.streaming.corpus import (
            neardup_batch_threshold, neardup_ingest_stream,
        )
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        sf = str(tmp_path)
        docs.coalesce(1).write.parquet(f"{sf}/documents.parquet")
        thr = neardup_batch_threshold(sf)
        arrivals = str(tmp_path / "arrivals")
        (docs.filter(F.col("doc_id") >= thr)
         .withColumn("part", F.col("doc_id") % 3)
         .write.partitionBy("part").parquet(arrivals))
        stream = (spark.readStream.schema(docs.schema)
                  .option("maxFilesPerTrigger", 1)
                  .parquet(arrivals + "/part=*"))
        try:
            got = sorted(
                (r["doc_id"], r["band"], r["band_key"]) for r in
                neardup_ingest_stream(spark, sf, stream).collect())
            want = sorted(
                (r["doc_id"], r["band"], r["band_key"]) for r in
                minhash_bands(docs.select("doc_id", "text")).collect())
            assert got == want and len(got) > 0
            # phase split: exactly the arrival docs carry phase='batch'
            phases = {(r["doc_id"], r["phase"]) for r in
                      neardup_ingest_stream(spark, sf, stream)
                      .select("doc_id", "phase").distinct().collect()}
            assert all(p == ("batch" if d >= thr else "base")
                       for d, p in [(d, p) for d, p in phases])
        finally:
            tables.reset_handles()


class TestStreamAnnIngestRecovery:
    def test_failed_drain_resumes_checkpoint(self, spark, sf_dir,
                                             tmp_path, monkeypatch):
        """Cross-invocation recovery (the round-12 advisory): a drain
        that dies mid-stream leaves its deterministic checkpoint and
        the partially-landed table; re-invoking ann_ingest_stream
        RESUMES — the committed epoch is not re-run (its partition is
        already landed), only the failed/remaining epochs are, and the
        recovered index equals the batch face row-for-row."""
        import pyspark.sql.functions as F
        import pytest as _pytest
        import columnar_estimator_sample_spark.streaming.corpus as SC
        from columnar_estimator_sample_spark.operators.similarity import (
            inc_batch_threshold, ivf_incremental_index,
        )
        from columnar_estimator_sample_spark.sources import tables

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        sf = str(tmp_path)
        emb.coalesce(1).write.parquet(f"{sf}/embeddings.parquet")
        thr = inc_batch_threshold(sf)
        arrivals = str(tmp_path / "arrivals")
        (emb.filter(F.col("vec_id") >= thr)
         .withColumn("part", F.col("vec_id") % 3)
         .write.partitionBy("part").parquet(arrivals))

        def mkstream():
            return (spark.readStream.schema(emb.schema)
                    .option("maxFilesPerTrigger", 1)
                    .parquet(arrivals + "/part=*"))

        real = SC._ingest_epoch
        seen: list[int] = []

        def flaky(assign, name, epoch_id):
            seen.append(int(epoch_id))
            if len(seen) == 2:
                raise RuntimeError("injected mid-drain failure")
            real(assign, name, epoch_id)

        try:
            monkeypatch.setattr(SC, "_ingest_epoch", flaky)
            with _pytest.raises(Exception):
                SC.ann_ingest_stream(spark, sf, mkstream())
            committed = set(seen[:1])  # only the pre-failure epoch
            recovery_seen: list[int] = []

            def recorder(assign, name, epoch_id):
                recovery_seen.append(int(epoch_id))
                real(assign, name, epoch_id)

            monkeypatch.setattr(SC, "_ingest_epoch", recorder)
            got = sorted(tuple(r) for r in
                         SC.ann_ingest_stream(spark, sf, mkstream())
                         .collect())
            # the committed epoch was skipped by the resumed checkpoint
            assert not (committed & set(recovery_seen)), \
                (committed, recovery_seen)
            assert recovery_seen, "resume re-ran nothing"
            want = sorted(tuple(r) for r in
                          ivf_incremental_index(spark, sf).collect())
            assert got == want
        finally:
            tables.reset_handles()


class TestCompaction:
    def test_compact_write_sizes_files(self, spark, sf_dir, tmp_path):
        from columnar_estimator_sample_spark.sources.io import (
            compact_write, read_parquet,
        )
        li = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
        # fragment the table (the small-files disease), then compact
        frag = str(tmp_path / "frag")
        li.repartition(40).write.parquet(frag)
        assert len([f for f in os.listdir(frag)
                    if f.endswith(".parquet")]) == 40
        out = str(tmp_path / "compact")
        n = compact_write(spark.read.parquet(frag), out, target_mb=512)
        files = [f for f in os.listdir(out) if f.endswith(".parquet")]
        assert len(files) == n  # sized, not per-task
        assert n < 40
        back = spark.read.parquet(out)
        assert back.count() == li.count()

    def test_compact_write_range_layout_skips(self, spark, sf_dir,
                                              tmp_path):
        """sort_by gives each file a tight key range: reading one key's
        worth of rows must match the unsorted baseline exactly."""
        from columnar_estimator_sample_spark.sources.io import (
            compact_write, read_parquet,
        )
        ev = read_parquet(spark, f"{sf_dir}/orders.parquet")
        out = str(tmp_path / "sorted")
        compact_write(ev, out, target_mb=1, sort_by=["o_custkey"])
        back = spark.read.parquet(out)
        assert back.count() == ev.count()
        want = ev.filter(F.col("o_custkey") == 7).count()
        assert back.filter(F.col("o_custkey") == 7).count() == want


class TestStreamingSketches:
    @pytest.mark.parametrize("layout", ["file", "directory"])
    def test_cm_counters_stream_equals_batch(self, spark, sf_dir, tmp_path,
                                             layout):
        """Both on-disk layouts: the driver's flat documents.parquet
        file and a Spark-written documents.parquet directory of 3 part
        files (one micro-batch each)."""
        from columnar_estimator_sample_spark.sources.tables import (
            table_stream)
        from columnar_estimator_sample_spark.streaming.sketches import (
            cm_counters)
        from columnar_estimator_sample_spark.streaming.windows import (
            run_to_completion)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        src = sf_dir
        if layout == "directory":
            src = str(tmp_path)
            docs.repartition(3).write.parquet(f"{src}/documents.parquet")
        batch = {(r.row, r.bucket): r.cnt for r in
                 cm_counters(docs).collect()}
        streamed = {(r.row, r.bucket): r.cnt for r in
                    run_to_completion(cm_counters(
                        table_stream(spark, src, "documents"))).collect()}
        assert streamed == batch

    def test_hll_registers_stream_equals_batch(self, spark, sf_dir):
        from columnar_estimator_sample_spark.sources.tables import (
            table_stream)
        from columnar_estimator_sample_spark.streaming.sketches import (
            hll_registers)
        from columnar_estimator_sample_spark.streaming.windows import (
            run_to_completion)
        batch = {r.j: r.m for r in
                 hll_registers(
                     spark.read.parquet(f"{sf_dir}/documents.parquet"))
                 .collect()}
        streamed = {r.j: r.m for r in
                    run_to_completion(hll_registers(
                        table_stream(spark, sf_dir, "documents")))
                    .collect()}
        assert streamed == batch


class TestNanosecondEvents:
    def test_nanos_ts_read_without_session_conf(self, spark, tmp_path):
        """INT64 TIMESTAMP(NANOS) events decode to exact ``ts_ns`` /
        ``us`` through both the batch and the stream read, and neither
        read sets the legacy nanos conf."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from columnar_estimator_sample_spark.sources import tables
        from columnar_estimator_sample_spark.streaming.windows import (
            run_to_completion)
        ts_ns = [1704067414839244869, 1704067414839245999,
                 1704153600000000001]
        pq.write_table(pa.table({
            "event_id": pa.array([0, 1, 2], pa.int64()),
            "ts": pa.array(ts_ns, pa.timestamp("ns")),
            "user_id": pa.array([7, 7, 9], pa.int64()),
            "event_type": ["view", "click", "view"],
            "value": [1.5, 2.0, 3.25],
        }), tmp_path / "events.parquet")
        key = "spark.sql.legacy.parquet.nanosAsLong"
        spark.conf.unset(key)
        sf = str(tmp_path)
        want = [(t, t // 1000) for t in ts_ns]
        try:
            batch = tables.table(spark, sf, "events")
            streamed = run_to_completion(
                tables.table_stream(spark, sf, "events"), "append")
            for df in (batch, streamed):
                assert sorted(tuple(r) for r in
                              df.select("ts_ns", "us").collect()) == want
            assert key not in dict(spark.conf.getAll)
        finally:
            tables.reset_handles()


class TestWriteAuditPublish:
    def test_failing_audit_blocks_publish(self, spark, sf_dir, tmp_path):
        from columnar_estimator_sample_spark.sources.io import (
            publish_with_audit)
        df = spark.read.parquet(f"{sf_dir}/nation.parquet")
        dest = str(tmp_path / "nation_out")

        def min_rows(staged):
            n = staged.count()
            return n >= 9999, f"rows={n}"

        report = publish_with_audit(df, dest, [min_rows])
        assert not report["published"]
        assert not __import__("os").path.exists(dest)  # nothing visible
        assert report["staging"]  # kept for debugging
        assert report["audits"][0][0] == "min_rows"

    def test_passing_audits_publish_atomically(self, spark, sf_dir,
                                               tmp_path):
        from columnar_estimator_sample_spark.sources.io import (
            publish_with_audit)
        df = spark.read.parquet(f"{sf_dir}/nation.parquet")
        dest = str(tmp_path / "nation_out")

        def nonempty(staged):
            return staged.count() == 25, "expect 25 nations"

        def no_null_keys(staged):
            bad = staged.filter("n_nationkey IS NULL").count()
            return bad == 0, f"null keys={bad}"

        report = publish_with_audit(df, dest, [nonempty, no_null_keys])
        assert report["published"] and report["dest"] == dest
        assert spark.read.parquet(dest).count() == 25
        assert all(ok for _, ok, _ in report["audits"])


class TestForeachBatchExactlyOnce:
    def test_crash_replay_no_loss_no_dupes(self, spark, sf_dir, tmp_path):
        """Exactly-once of the foreachBatch epoch-overwrite sink under a
        worst-case crash: the failure is injected AFTER batch 1's files
        land but BEFORE its epoch commits, so the restart REPLAYS batch 1
        over its own partial output. Final table must equal the batch
        source exactly — no loss, no duplicates — and carry one epoch per
        micro-batch."""
        import pytest

        from columnar_estimator_sample_spark.sources.tables import table
        from columnar_estimator_sample_spark.streaming.windows import (
            events_stream, foreach_batch_parquet_sink,
        )

        src = table(spark, sf_dir, "events")
        (src.repartition(4).write.mode("overwrite")
         .parquet(str(tmp_path / "events.parquet")))
        d = str(tmp_path)
        out = str(tmp_path / "landed")
        ckpt = str(tmp_path / "ckpt")

        ev = events_stream(spark, d).select("event_id", "user_id", "us")
        with pytest.raises(Exception, match="injected crash"):
            foreach_batch_parquet_sink(ev, out, ckpt, fail_on_batch=1)

        # restart from the same checkpoint: batch 1 replays, 2..3 follow
        ev2 = events_stream(spark, d).select("event_id", "user_id", "us")
        foreach_batch_parquet_sink(ev2, out, ckpt)

        landed = spark.read.parquet(out)
        assert landed.select("epoch").distinct().count() == 4
        got = landed.groupBy().agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("event_id").alias("nd")).first()
        want = src.count()
        assert got.n == want, "loss or duplication across the crash"
        assert got.nd == want


class TestRocksDBStateStore:
    def test_windowed_agg_under_rocksdb_provider(self, spark, sf_dir,
                                                 tmp_path):
        """The 100 TB state backend: at cluster scale streaming state
        outgrows the default in-memory HDFS-backed store, and the
        deployment answer is the RocksDB provider (bundled rocksdbjni).
        Run the watermarked daily aggregation with the provider switched
        to RocksDB and require the result to match the batch twin row
        for row — same plan, different state backend, zero semantic
        drift."""
        from columnar_estimator_sample_spark.operators.events import (
            q_time_buckets,
        )
        from columnar_estimator_sample_spark.streaming.windows import (
            daily_counts_stream, events_stream, run_to_completion,
        )

        key = "spark.sql.streaming.stateStore.providerClass"
        prev = spark.conf.get(key, None)
        spark.conf.set(
            key, "org.apache.spark.sql.execution.streaming.state."
                 "RocksDBStateStoreProvider")
        try:
            ev = events_stream(spark, sf_dir)
            got = run_to_completion(
                daily_counts_stream(ev),
                checkpoint_dir=str(tmp_path / "ckpt"))
            g = sorted((r.day, r.event_type, r.n_events,
                        round(r.total_value, 6))
                       for r in got.collect())
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
        w = sorted((r.day, r.event_type, r.n_events,
                    round(r.total_value, 6))
                   for r in q_time_buckets(spark, sf_dir).collect())
        assert g == w
