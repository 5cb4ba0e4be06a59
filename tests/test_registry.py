"""Registry contract tests: every query runs at sf0.001 and its oracle is
syntactically valid DuckDB SQL; spot checks differential parity for a fast
subset (the full differential suite is tools/check_oracle.py at sf0.01)."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entrymod

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()

FAST_DIFF = [
    "q01_pricing_summary", "q_semi_join", "q_rollup", "q_json_extract",
    "q_dedup_fingerprint", "q_similarity_topk",
]


def _duck(sql: str, sf_dir: str):
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    return con.execute(sql).fetchdf()


def test_local_ledger_covers_registry():
    """A registered-but-never-locally-gated query is exactly how the
    round-5 JPEG bug shipped: CORRECTNESS_LOCAL.json must cover every
    registry entry, so regenerating the ledger (tools/check_oracle.py)
    is mandatory in the same commit that registers a query."""
    import json
    import os

    ledger_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "CORRECTNESS_LOCAL.json")
    ledger = json.load(open(ledger_path))
    missing = sorted(set(QUERIES) - set(ledger["queries"]))
    assert not missing, (
        f"queries registered but absent from CORRECTNESS_LOCAL.json "
        f"(run tools/check_oracle.py and commit the ledger): {missing}")
    assert ledger["n_fail"] == 0


def test_oracle_keys_subset_of_queries():
    assert set(ORACLES) <= set(QUERIES)


def test_local_ledger_matches_source_tree():
    """Ledger-at-HEAD gate (r11 verdict #3): the round-11 close commit
    edited 4 operator files AFTER the ledger regen, so the committed
    ledger silently predated the shipped sources and the judge had to
    re-verify by hand. The ledger stamps a digest of the query-relevant
    source tree at generation time; this test recomputes it and goes
    red on ANY package/__spark_entry__ edit not followed by a
    ``tools/check_oracle.py ... --json`` run (full or subset merge —
    subset merges re-stamp, so the discipline is: re-run at least the
    affected queries after every source edit, ledger write LAST)."""
    import json
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "tools"))
    from check_oracle import source_tree_hash

    ledger = json.load(open(os.path.join(repo, "CORRECTNESS_LOCAL.json")))
    assert "source_sha" in ledger, (
        "CORRECTNESS_LOCAL.json has no source stamp — regenerate with "
        "tools/check_oracle.py <sf_dir> --json")
    assert ledger["source_sha"] == source_tree_hash(repo), (
        "CORRECTNESS_LOCAL.json is STALE: package sources changed after "
        "the ledger was generated. Re-run tools/check_oracle.py (at "
        "least the affected queries, with --json) and commit the "
        "ledger in the same change.")


def test_sf01_ledger_covers_registry_and_matches_source_tree():
    """The sf0.1 full-registry differential (round-13 verdict lead item)
    is a per-round committed artifact with the same disciplines as the
    local ledger: full registry coverage, zero fails, and a source-tree
    stamp that goes red on any post-generation source edit. It
    certifies the lanes that only engage above the gate SFs (winnow's
    adaptive cap, CCNet's catalog lane, DSIR's checkpoint bound, the
    MMR footer rule) — regenerate with
    ``tools/check_oracle.py /root/testdata/sf0.1 --json --out
    CORRECTNESS_SF01.json``."""
    import json
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "tools"))
    from check_oracle import source_tree_hash

    path = os.path.join(repo, "CORRECTNESS_SF01.json")
    assert os.path.exists(path), (
        "CORRECTNESS_SF01.json missing — run the sf0.1 sweep from the "
        "close checklist (README.md §Running)")
    ledger = json.load(open(path))
    assert ledger["sf_dir"].rstrip("/").endswith("sf0.1")
    missing = sorted(set(QUERIES) - set(ledger["queries"]))
    assert not missing, (
        f"queries registered but absent from CORRECTNESS_SF01.json: "
        f"{missing}")
    assert ledger["n_fail"] == 0
    assert ledger["source_sha"] == source_tree_hash(repo), (
        "CORRECTNESS_SF01.json is STALE: package sources changed after "
        "the sf0.1 sweep. Re-run it (at least the affected queries, "
        "with --json --out CORRECTNESS_SF01.json) and commit the "
        "ledger in the same change.")


def test_oracle_result_types_spark_representable(sf_dir):
    """Every oracle's PREPARED DuckDB result types must be in the
    Spark-representable set.

    Round 4's five driver hash-reds shared one root cause: DuckDB
    ``SUM(BIGINT)`` returns HUGEINT (int128); the driver hashes typed
    values so int128 != Spark's int64, while the local replica's
    ``fetchdf()`` silently coerced to float64 and passed. This test makes
    that defect class impossible to reintroduce: a query #239 with an
    uncast SUM in its oracle goes red here before it ever reaches the
    driver. Type derivation is lazy (no fetch), so all ~236 oracles
    check in about a second.
    """
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    allowed = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT",
               "USMALLINT", "UINTEGER", "FLOAT", "DOUBLE", "VARCHAR",
               "DATE", "BOOLEAN"}
    bad = []
    for name, sql in ORACLES.items():
        rel = con.sql(sql)
        bad += [(name, c, str(t)) for c, t in zip(rel.columns, rel.types)
                if str(t) not in allowed
                and not str(t).startswith("TIMESTAMP")]
    assert not bad, (
        f"oracle result columns with non-Spark-representable DuckDB types "
        f"(driver hash-red; CAST them): {bad}")


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == ["n_name", "revenue"]


# Session confs a query build or drain may leave changed, each with its
# reason. Any other key that differs after a run leaks into every later
# query of the session.
CONF_LEAK_ALLOWED = {
    # registry._with_conf_pins: the per-query AQE coalescing-floor pins
    "spark.sql.adaptive.coalescePartitions.minPartitionSize",
    # sources.tables.events_table: the events funnel reads nanosecond
    # timestamps and needs UTC day boundaries on plain driver sessions
    # (tests/test_tz_invariance.py)
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.session.timeZone",
    # plans.stats: the NDV extension's broadcast-table input
    "spark.graft.ndv.broadcastTables",
}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_runs(spark, sf_dir, name):
    before = dict(spark.conf.getAll)
    df = QUERIES[name](spark, sf_dir)
    assert df.count() >= 0
    after = dict(spark.conf.getAll)
    leaked = {k: (before.get(k), after.get(k))
              for k in before.keys() | after.keys()
              if before.get(k) != after.get(k)
              and k not in CONF_LEAK_ALLOWED}
    assert not leaked, f"{name} left session confs changed: {leaked}"


@pytest.mark.parametrize("name", FAST_DIFF)
def test_differential_fast(spark, sf_dir, name):
    sdf = QUERIES[name](spark, sf_dir).toPandas()
    odf = _duck(ORACLES[name], sf_dir)
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert len(sdf) == len(odf)
    s = sdf[sorted(sdf.columns)].sort_values(
        by=sorted(sdf.columns)).reset_index(drop=True)
    o = odf[sorted(odf.columns)].sort_values(
        by=sorted(odf.columns)).reset_index(drop=True)
    for c in s.columns:
        if s[c].dtype.kind == "f":
            assert (s[c].fillna(0) == o[c].astype(float).fillna(0)).all(), c
        else:
            assert s[c].astype(str).tolist() == o[c].astype(str).tolist(), c


class TestCLI:
    def test_list_and_oracle(self, capsys):
        from columnar_estimator_sample_spark.__main__ import main
        assert main(["list"]) == 0
        out = capsys.readouterr().out
        assert "q01_pricing_summary\toracle" in out
        # q_media_features gained a real oracle in round 4 (header-decode
        # round trip); the remaining by-design rows-only entries:
        assert "q_media_features\toracle" in out
        assert "q_approx_stats\trows-only" in out
        assert main(["oracle", "q01_pricing_summary"]) == 0
        assert "l_returnflag" in capsys.readouterr().out
        assert main(["oracle", "nope_not_a_query"]) == 1
        assert main(["oracle", "q_approx_stats"]) == 1

    def test_run_explain(self, spark, sf_dir, capsys):
        from columnar_estimator_sample_spark.__main__ import main
        assert main(["run", "q03_shipping_priority",
                     "--sf-dir", sf_dir, "--explain"]) == 0
        out = capsys.readouterr().out
        assert "TakeOrderedAndProject" in out

    def test_run_writes_json(self, spark, sf_dir, tmp_path, capsys):
        import json
        from columnar_estimator_sample_spark.__main__ import main
        out_file = str(tmp_path / "q06.json")
        assert main(["run", "q06_forecast_revenue",
                     "--sf-dir", sf_dir, "--out", out_file]) == 0
        rows = [json.loads(line) for line in open(out_file)]
        assert len(rows) == 1 and "revenue_delta" in rows[0]

    def test_sql_subcommand(self, spark, sf_dir, capsys):
        from columnar_estimator_sample_spark.__main__ import main
        assert main(["sql", "SELECT COUNT(*) AS n FROM nation",
                     "--sf-dir", sf_dir]) == 0
        assert "25" in capsys.readouterr().out


def test_reset_handles_clears_registered_memos(spark, sf_dir):
    """reset_handles() is the single cache-invalidation point: it must
    clear the operator-level per-session memos (IVF / ER / set-join)
    alongside the table handles, so a test that rewrites a testdata
    table in place never sees a stale checkpointed frame."""
    from columnar_estimator_sample_spark.operators import entity, similarity
    from columnar_estimator_sample_spark.sources import tables

    tables.table(spark, sf_dir, "nation")
    similarity._IVF_MEMO[("app", sf_dir)] = ("sentinel",)
    entity._PAIRS_MEMO[("app", sf_dir)] = "sentinel"
    assert tables._HANDLES and similarity._IVF_MEMO and entity._PAIRS_MEMO
    tables.reset_handles()
    assert not tables._HANDLES
    assert not similarity._IVF_MEMO
    assert not entity._PAIRS_MEMO


def test_reset_handles_sweeps_registered_tempdirs(spark, sf_dir):
    """Materializing operators (IVF bucketed tables, corpus export)
    mkdtemp once per (session, sf_dir); reset_handles() must REMOVE
    those directories alongside clearing the memos that point at them —
    a long-lived session iterating sf_dirs must not leak a parquet copy
    per iteration."""
    import os
    import tempfile

    from columnar_estimator_sample_spark.sources import tables

    d = tables.register_tempdir(tempfile.mkdtemp(prefix="graft-test-"))
    open(os.path.join(d, "payload"), "w").write("x")
    assert os.path.isdir(d)
    tables.reset_handles()
    assert not os.path.exists(d)
    assert not tables._TEMPDIRS


def test_ivf_table_tag_distinguishes_same_basename_sf_dirs(spark, sf_dir,
                                                           tmp_path):
    """Two sf_dirs with the SAME leaf name (regenerated copies under
    different parents) must never collide on the bucketed IVF table
    name — a collision would silently re-point the first memo's lazy
    spark.table() reference at the other dataset."""
    import os
    import shutil

    from columnar_estimator_sample_spark.operators.similarity import (
        ivf_bucketed_assignment,
    )
    from columnar_estimator_sample_spark.sources import tables

    copy = tmp_path / os.path.basename(sf_dir.rstrip("/"))
    copy.mkdir()
    shutil.copy(os.path.join(sf_dir, "embeddings.parquet"),
                copy / "embeddings.parquet")
    assign1, _ = ivf_bucketed_assignment(spark, sf_dir)
    files1 = set(assign1.inputFiles())
    assign2, _ = ivf_bucketed_assignment(spark, str(copy))
    # distinct full paths -> distinct table names and locations; on a
    # name collision the second CTAS overwrite would re-point assign1's
    # lazy spark.table() at the copy's location and these sets would
    # coincide
    assert files1, "bucketed assign table has no files"
    assert files1.isdisjoint(set(assign2.inputFiles()))
    assert files1 == set(assign1.inputFiles())
    tables.reset_handles()

