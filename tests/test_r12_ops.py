"""Round-12 operator tests: adaptive winnow MAXDF (duplication-scaled
boilerplate cap) and the shared digest-census probe it reads its
duplication factor from.
Tiny synthetic sf_dirs are hand-built parquet (the operators read
{sf_dir}/{table}.parquet, so a tmp dir IS a scale factor)."""

from __future__ import annotations

import duckdb
import pytest


def _write(path: str, sql: str) -> None:
    duckdb.sql(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")


def _replicated_fixture(tmp_path, copies: int = 25) -> str:
    """Two distinct 16-token texts sharing a 14-token run (>= W+K-1=7,
    so the winnow guarantee yields shared fingerprints), each content
    replicated ``copies`` times — duplication factor = copies, with
    copies > WINNOW_MAXDF so the static cap censors EVERY fingerprint."""
    shared = " ".join(f"tok{i}" for i in range(14))
    text_a = shared + " tailA1 tailA2"
    text_b = shared + " tailB1 tailB2"
    rows = []
    for c in range(copies):
        rows.append(f"(CAST({c} AS BIGINT), '{text_a}', 'aa', 'src0', "
                    f"CAST({len(text_a)} AS BIGINT))")
        rows.append(f"(CAST({1000 + c} AS BIGINT), '{text_b}', 'aa', "
                    f"'src0', CAST({len(text_b)} AS BIGINT))")
    sf = str(tmp_path)
    _write(f"{sf}/documents.parquet",
           "SELECT * FROM (VALUES " + ", ".join(rows)
           + ") t(doc_id, text, lang, source, n_chars)")
    return sf


class TestAdaptiveWinnowCap:
    def test_gate_sf_estimate_is_one_cap_static(self, spark, sf_dir):
        """Oracle byte-stability contract: on the gate corpora the
        duplication estimate must be exactly 1, so the effective cap
        equals the static WINNOW_MAXDF the DuckDB oracle embeds."""
        from columnar_estimator_sample_spark.operators.dedup import (
            WINNOW_MAXDF, duplication_estimate, winnow_maxdf,
        )
        assert duplication_estimate(spark, sf_dir) == 1
        assert winnow_maxdf(spark, sf_dir) == WINNOW_MAXDF

    def test_adaptive_cap_unblinds_replicated_corpus(self, spark,
                                                     tmp_path,
                                                     monkeypatch):
        """The r11 100x blindness, turned into behavior: on a 25-way
        replicated corpus the static cap censors every fingerprint
        (empty census); the adaptive cap scales with the measured
        duplication and the planted near-dup pair keeps >= MINSHARED
        shared fingerprints through the filter."""
        import columnar_estimator_sample_spark.operators.dedup as D
        import pyspark.sql.functions as F
        from columnar_estimator_sample_spark.sources.tables import table

        sf = _replicated_fixture(tmp_path, copies=25)
        assert D.duplication_estimate(spark, sf) == 25
        assert D.winnow_maxdf(spark, sf) == 25 * D.WINNOW_MAXDF

        # static cap -> blind (this was the shipped r11 behavior)
        monkeypatch.setattr(D, "duplication_estimate", lambda s, d: 1)
        assert D.q_dedup_winnow(spark, sf).count() == 0
        monkeypatch.undo()

        # adaptive cap -> census unblinds end-to-end
        rows = D.q_dedup_winnow(spark, sf).collect()
        assert len(rows) > 0

        # and the planted CROSS-content near-dup survives the filter
        # with >= MINSHARED shared fingerprints (the top-20 census is
        # dominated by the exact-dup pairs; check the kept frame)
        fps = D.winnow_fingerprints(table(spark, sf, "documents"))
        cap = D.winnow_maxdf(spark, sf)
        df_ok = (fps.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
                 .filter(F.col("df") <= cap).select("fp"))
        kept = fps.join(df_ok, "fp")
        a_fps = {r["fp"] for r in
                 kept.filter(F.col("doc_id") == 0).collect()}
        b_fps = {r["fp"] for r in
                 kept.filter(F.col("doc_id") == 1000).collect()}
        assert len(a_fps & b_fps) >= D.WINNOW_MINSHARED

    def test_contracted_lane_equals_direct(self, spark, sf_dir,
                                           tmp_path, monkeypatch):
        """The contracted (content-level pair join + output-proportional
        expansion) lane must reproduce the direct doc-level lane
        row-for-row — on the gate corpus (where the switch normally
        keeps the direct lane) AND on the replicated fixture (where the
        switch normally picks the contracted lane)."""
        import columnar_estimator_sample_spark.operators.dedup as D

        for sf in [sf_dir, _replicated_fixture(tmp_path, copies=25)]:
            cap = D.winnow_maxdf(spark, sf)
            direct = [tuple(r) for r in
                      D._winnow_census_direct(spark, sf, cap).collect()]
            contracted = [tuple(r) for r in
                          D._winnow_census_contracted(spark, sf,
                                                      cap).collect()]
            assert contracted == direct, sf

    def test_switch_picks_lanes_by_duplication(self, spark, sf_dir,
                                               tmp_path, monkeypatch):
        """dup=1 (gate corpus) -> direct lane; dup=25 (fixture) ->
        contracted lane; pinned by poisoning the other lane."""
        import columnar_estimator_sample_spark.operators.dedup as D

        def boom(*a, **k):
            raise AssertionError("wrong lane taken")

        monkeypatch.setattr(D, "_winnow_census_contracted", boom)
        D.q_dedup_winnow(spark, sf_dir)  # plan build only
        monkeypatch.undo()
        sf = _replicated_fixture(tmp_path, copies=25)
        monkeypatch.setattr(D, "_winnow_census_direct", boom)
        D.q_dedup_winnow(spark, sf)
        monkeypatch.undo()

    def test_catalog_table_does_not_change_estimate(self, spark,
                                                     tmp_path):
        """The estimate comes from the corpus's own census, never from a
        session-global catalog table that happens to be named
        ``documents``: with an ANALYZEd catalog copy of corpus A (25-way
        duplicated) present, corpus B (same row count, all-distinct
        texts) still gets its true factor of 1, and A gets 25."""
        import columnar_estimator_sample_spark.operators.dedup as D

        (tmp_path / "a").mkdir()
        sf_a = _replicated_fixture(tmp_path / "a", copies=25)
        # corpus B: same total row count, every text distinct
        import pyarrow as pa
        import pyarrow.parquet as pq
        n = pq.read_metadata(f"{sf_a}/documents.parquet").num_rows
        sf_b = str(tmp_path / "b")
        import os
        os.makedirs(sf_b, exist_ok=True)
        pq.write_table(pa.table({
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array([f"unique text number {i}" for i in range(n)]),
        }), f"{sf_b}/documents.parquet")
        spark.sql("DROP TABLE IF EXISTS documents")
        try:
            spark.read.parquet(f"{sf_a}/documents.parquet") \
                .write.saveAsTable("documents")
            spark.sql("ANALYZE TABLE documents COMPUTE STATISTICS "
                      "FOR COLUMNS text")
            assert D.duplication_estimate(spark, sf_b) == 1
            assert D.duplication_estimate(spark, sf_a) == 25
        finally:
            spark.sql("DROP TABLE IF EXISTS documents")

    def test_census_memo_probes_once(self, spark, sf_dir):
        from columnar_estimator_sample_spark.operators.dedup import (
            digest_census,
        )
        from columnar_estimator_sample_spark.sources import tables
        a = digest_census(spark, sf_dir)
        # a second probe would build a new tuple; the memo returns the
        # stored one
        assert digest_census(spark, sf_dir) is a
        assert tables.memo(spark, ("digest_census", sf_dir),
                           lambda: ("sentinel", "sentinel")) is a


class TestWinnowLaneProperty:
    """Seeded-random lane equality: random small corpora with
    controlled duplication, shared token runs (so near-dup pairs arise
    naturally), and enough member pairs to make the top-k cutoff bind —
    the contracted lane's in-plan cutoff + expansion must reproduce the
    direct doc-level join row-for-row every time."""

    def test_random_corpora_lanes_equal(self, spark, tmp_path):
        import random

        import columnar_estimator_sample_spark.operators.dedup as D

        rng = random.Random(20260816)
        vocab = [f"w{i}" for i in range(12)]
        for trial in range(6):
            n_texts = rng.randint(2, 5)
            texts = []
            for _ in range(n_texts):
                n_tok = rng.randint(8, 18)
                # half the texts share a long common run to force
                # cross-content fingerprint overlap
                if rng.random() < 0.5 and texts:
                    prefix = texts[-1].split(" ")[:9]
                    rest = [rng.choice(vocab)
                            for _ in range(max(n_tok - 9, 1))]
                    texts.append(" ".join(prefix + rest))
                else:
                    texts.append(" ".join(rng.choice(vocab)
                                          for _ in range(n_tok)))
            rows, did = [], 0
            for t in texts:
                for _ in range(rng.randint(1, 6)):
                    rows.append(
                        f"(CAST({did} AS BIGINT), '{t}', 'aa', 'src0',"
                        f" CAST({len(t)} AS BIGINT))")
                    did += 1
            sf = str(tmp_path / f"trial{trial}")
            (tmp_path / f"trial{trial}").mkdir()
            duckdb.sql(
                "COPY (SELECT * FROM (VALUES " + ", ".join(rows)
                + ") t(doc_id, text, lang, source, n_chars)) TO '"
                + f"{sf}/documents.parquet' (FORMAT PARQUET)")
            cap = D.winnow_maxdf(spark, sf)
            direct = [tuple(r) for r in
                      D._winnow_census_direct(spark, sf, cap).collect()]
            contracted = [tuple(r) for r in
                          D._winnow_census_contracted(spark, sf,
                                                      cap).collect()]
            assert contracted == direct, (trial, cap, texts)
